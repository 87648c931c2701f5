"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship encode+verify on sf0.001.  ``queries``/``oracle_sql``
expose the SQL-checkable facets of the engine (SURVEY.md §5.2): run counting and
run decomposition (rl_encoding.v:467-481, 877-890), maxrun splitting (v:4137-4154),
compression-ratio aggregates (v:2744-2762), and the codec auto-selector itself —
the DuckDB oracle re-implements the exact block-size formulas in SQL, so the
whole selection pipeline is independently checked.

The token table is derived deterministically from ``documents.parquet``:
``tokens[i] = Unicode code point of text[i]`` (ASCII corpus; FIXTURES.md §1), so
oracles need only ``string_split``/``ascii`` + ANSI window functions.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from rlv import engine, textops, tokens  # noqa: E402
from rlv import table_files as TF  # noqa: E402

_SHIPPED: set[int] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the rlv package to the executors' python workers.

    The driver may create its SparkSession from any cwd without PYTHONPATH;
    mapInArrow/mapInPandas closures reference ``rlv`` by module name, so the
    workers must be able to import it.  ``addPyFile`` of a zip is the
    spark-submit ``--py-files`` equivalent, applied lazily and idempotently.
    """
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    zpath = os.path.join(tempfile.gettempdir(), "rlv_pyfiles.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        pkg = os.path.join(_REPO_ROOT, "rlv")
        for dirpath, _, files in os.walk(pkg):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, _REPO_ROOT))
    sc.addPyFile(zpath)
    _SHIPPED.add(id(sc))

# Shared CTE: explode documents into (doc_id, pos, tok) and derive per-doc runs
# with window functions — the oracle-side equivalent of rlv.kernels.rle.
_TOKS_CTE = """
toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         unnest(string_split(text, '')) AS ch,
         generate_subscripts(string_split(text, ''), 1) AS pos
  FROM documents
),
tok2 AS (
  SELECT doc_id, source, pos, ascii(ch) AS tok FROM toks
),
flagged AS (
  SELECT doc_id, source, pos, tok,
         CASE WHEN tok IS DISTINCT FROM
                   lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
              THEN 1 ELSE 0 END AS f
  FROM tok2
),
grp AS (
  SELECT doc_id, source, pos, tok,
         sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM flagged
),
runs AS (
  SELECT doc_id, source, g, tok,
         CAST(count(*) AS BIGINT) AS cnt, min(pos) AS start_pos
  FROM grp GROUP BY doc_id, source, g, tok
)
"""


def _token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_shipped(spark)
    return tokens.tokens_from_documents(spark, sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: encode every document's token array with the
    auto-selected codec, decode it back, and report per-source totals with a
    mismatch count that must be zero (the per-row invariant)."""
    df = _token_df(spark, "/root/testdata/sf0.001")
    encoded = engine.encode_pass(df)
    decoded = engine.decode_pass(encoded)
    joined = (
        df.select("doc_id", "source", "tokens")
        .join(decoded, "doc_id")
        .join(encoded.select("doc_id", "n_runs", "enc_bytes", "naive_bytes"), "doc_id")
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("tokens")).alias("n_tokens"),
            F.sum("n_runs").alias("n_runs"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sum("naive_bytes").alias("naive_rle_bytes"),
            F.sum(
                F.when(F.col("tokens") != F.col("decoded"), 1).otherwise(0)
            ).alias("mismatches"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# queries() — each runs the engine's kernels; oracle_sql() recomputes the same
# result independently in DuckDB SQL.  Column names/types match exactly.
# ---------------------------------------------------------------------------


def _q_count_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_runs (v:467-481) per document — the direct counting kernel
    (no run materialization), checked against the SQL window oracle."""
    return engine.count_runs_pass(_token_df(spark, sf_dir))


def _q_run_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decompose_runs (v:877-890) as rows: (doc_id, run_idx, count, value)."""
    return engine.runs_pass(_token_df(spark, sf_dir))


def _q_maxrun_byte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rle_encode_byte (v:4159): runs split at cap=255 (PackBits preset)."""
    return engine.runs_pass(_token_df(spark, sf_dir), cap=255)


def _q_maxrun_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize (v:259-274) applied to the cap-split runs must reproduce the
    canonical decomposition exactly (encode_is_normalize, v:1594-1620 composed
    with rle_maxrun_correct, v:4254-4264) — the oracle is the PLAIN
    run-decomposition SQL, so the merge operator is checked end to end."""
    return engine.runs_pass(_token_df(spark, sf_dir), cap=255, normalize=True)


def _q_compression_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compression stats: Σ tokens, Σ runs, naive-RLE byte budget
    (encode_space_usage, v:2744-2762)."""
    df = _token_df(spark, sf_dir)
    runs = engine.runs_pass(df).groupBy("doc_id").agg(F.count("*").alias("runs"))
    return (
        df.join(runs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum("runs").alias("n_runs"),
            (F.sum("runs") * 16).alias("naive_rle_bytes"),
        )
    )


def _q_codec_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-selector (SURVEY §2.10): chosen codec + exact encoded bytes per
    doc.  The oracle recomputes every candidate size in SQL and argmins."""
    df = _token_df(spark, sf_dir)
    enc = engine.encode_pass(df)
    return enc.select("doc_id", "codec_id", "enc_bytes")


def _q_roundtrip_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end roundtrip: count of docs whose decode(encode(tokens)) is
    bit-identical, per source.  Equals plain count(*) iff rle_correct
    (v:133-144) holds for every block — that IS the oracle."""
    df = _token_df(spark, sf_dir)
    encoded = engine.encode_pass(df)
    decoded = engine.decode_pass(encoded)
    ok = (
        df.select("doc_id", "source", "tokens")
        .join(decoded, "doc_id")
        .filter(F.col("tokens") == F.col("decoded"))
    )
    return ok.groupBy("source").agg(F.count("*").alias("n_verified"))


def _q_string_codec_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRDICT (dict + FSST) string-column codec: count of docs whose text
    survives encode->decode byte-identically, per source.  Equals count(*)
    iff the string codec is exact — that is the oracle."""
    _ensure_shipped(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("source"), F.col("text")
    )
    res = engine.strings_pass(docs, value_col="text", key_col="source")
    return (
        res.filter(F.col("ok") == 1)
        .groupBy(F.col("key").alias("source"))
        .agg(F.count("*").alias("n_verified"))
        .select("source", "n_verified")
    )


def _q_string_codec_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRDICT with a CORPUS-trained FSST symbol table (the sampling-pass
    output plumbed into the string codec): train once on a deterministic text
    sample (lowest doc_ids), then every chunk encodes against the shared
    external table — smaller chunks, no per-chunk training, and identical
    payloads encode identically corpus-wide.  Verification is the per-row
    roundtrip bit, so the oracle is count(*) per source."""
    _ensure_shipped(spark)
    import pyarrow.parquet as pq

    from rlv.kernels import fsst

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).sort_by("doc_id")
    sample = "|".join(tbl.column("text").to_pylist()[:64]).encode("utf-8")
    symbols = fsst.train_symbols(sample)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("source"), F.col("text")
    )
    res = engine.strings_pass(docs, value_col="text", key_col="source",
                              symbols=symbols)
    return (
        res.filter(F.col("ok") == 1)
        .groupBy(F.col("key").alias("source"))
        .agg(F.count("*").alias("n_verified"))
        .select("source", "n_verified")
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on documents (training-data pipeline op): hash-groupBy,
    keep the lexicographically-smallest doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"),
                    F.col("doc_id").cast("string").alias("doc_id"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


def _q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding for near-dup detection (training-data pipeline op):
    8 minhashes over 5-char shingles, 4 bands of 2 -> (doc_id, band_idx,
    band_hash).  Docs sharing a band_hash are near-dup candidates; the
    bucket-join over band_hash is the scale path (no O(n^2) compare)."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.length("text") >= 5)
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    )
    shingles = docs.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))")
        ).alias("s"),
    )
    mins = shingles.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(str(k)), F.col("s")))).alias(f"h{k}")
            for k in range(8)
        ]
    )
    bands = mins.select(
        "doc_id",
        F.expr(
            "stack(4, 0, md5(concat(h0, h1)), 1, md5(concat(h2, h3)), "
            "2, md5(concat(h4, h5)), 3, md5(concat(h6, h7))) AS (band_idx, band_hash)"
        ),
    )
    return bands.select("doc_id", F.col("band_idx").cast("int"), "band_hash")


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (similarity-search
    baseline).  Embeddings are quantized to int (round(x*1000)) first so dot
    products and norms are exact integers on both engines and the float64
    cosine (IEEE-exact div/sqrt of exact ints) orders identically — no
    float-noise mismatches.  The broadcast of the small query side is the plan
    Catalyst must pick; at scale the query set is always the broadcast side."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr(
            "transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))"
        ).alias("q"),
    )
    with_norm = emb.select(
        "vec_id",
        "q",
        F.expr(
            "aggregate(zip_with(q, q, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"
        ).alias("n2"),
    )
    queries_df = with_norm.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    joined = with_norm.crossJoin(F.broadcast(queries_df)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.expr(
                "aggregate(zip_with(q, qv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"
            )
            / F.sqrt((F.col("n2") * F.col("qn2")).cast("double"))
        ).alias("cos"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", F.col("rk").cast("int").alias("rk"), "neighbor_id")
    )


def _lsh_projections(n_planes: int = 8, dims: int = 64) -> list[list[int]]:
    """Deterministic ±1 random-projection planes (md5-seeded), baked as
    literals into BOTH the Spark plan and the SQL oracle."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{j}_{d}".encode()).hexdigest()[0] in "01234567" else -1
            for d in range(dims)
        ]
        for j in range(n_planes)
    ]


def _q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the scale path): sign of 8 integer random projections
    over quantized embeddings -> 8-bit bucket id.  At 10^12 scale the
    bucket-equi-join replaces the O(n^2) compare; here the checkable output is
    the bucket assignment itself (exact integer math on both engines)."""
    proj = _lsh_projections()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").alias("q"),
    )
    bucket = None
    for j, plane in enumerate(proj):
        lits = ", ".join(str(c) + "L" for c in plane)
        dot = F.expr(
            f"aggregate(zip_with(q, array({lits}), (a, b) -> a * b), 0L, "
            "(acc, x) -> acc + x)"
        )
        bit = F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.select("vec_id", bucket.cast("int").alias("bucket"))


def _ann_lsh_oracle() -> str:
    proj = _lsh_projections()
    terms = []
    for j, plane in enumerate(proj):
        lits = ", ".join(str(c) for c in plane)
        terms.append(
            f"(CASE WHEN list_aggregate(list_transform(list_zip(q, [{lits}]::BIGINT[]), "
            f"p -> p[1] * p[2]), 'sum') >= 0 THEN {1 << j} ELSE 0 END)"
        )
    expr = " + ".join(terms)
    return f"""
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
  FROM embeddings
)
SELECT vec_id, CAST({expr} AS INT) AS bucket FROM q
"""


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality / token-counting stats per doc (training-data pipeline
    op): chars, whitespace words, sentence marks, and a BPE-ish token count
    (letter-runs | digits | other-symbol regex) — all exact integers so the
    oracle matches bit-for-bit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bpe_pat = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_words"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("."), F.lit(""))))
        .cast("bigint")
        .alias("n_periods"),
        F.regexp_count(F.col("text"), F.lit(bpe_pat)).cast("bigint").alias("n_bpe_ish"),
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (training-data pipeline op)."""
    return textops.doc_fingerprints(_docs(spark, sf_dir))


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over word hashes (near-dup fingerprinting)."""
    return textops.simhash(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs via the shingle self-join,
    with the stop-shingle guard wired (df_cap=50: shingles in more than 50
    docs are dropped before the join — the hot-key bound at corpus scale).
    The shingle relation is persisted and scanned once."""
    return textops.ngram_jaccard_pairs(_docs(spark, sf_dir), df_cap=50)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic + quality ratio (exact ints)."""
    return textops.lang_id(_docs(spark, sf_dir))


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold (exact-int dot)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return textops.embedding_neardup_pairs(emb)


def _q_embedding_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFAULT embedding near-dup path: IVF multi-probe bucketing (each
    vector claims its 2 best of 8 cells), candidates = pairs sharing a probed
    cell, exact cosine only on candidates.  The oracle is the all-pairs SQL
    restricted to the same bucket-sharing candidate set, so the bucketed
    semantics (including the recall boundary) is itself hash-checked;
    `embedding_neardup` remains the all-pairs baseline for recall comparison."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return textops.embedding_neardup_bucketed(emb)


def _q_ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer cell assignment (the bucketed-ANN scale path)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return textops.ivf_cells(emb)


_IVF_TRAIN_DIR = "/root/testdata/sf0.01"


def _numpy_ivf_train(sf_dir: str, k: int = 8, iters: int = 2) -> list[list[int]]:
    """Driver-side mirror of :func:`rlv.textops.ivf_train`'s deterministic
    Lloyd refinement, in numpy over duckdb-quantized embeddings: exact int64
    dots, IEEE-double cosines, argmax-first (= lowest cell) tie-break,
    floor-division centroid means.  Equality with the Spark trainer is
    pytest-asserted (tests/test_textops.py)."""
    import duckdb

    rel = duckdb.sql(
        "SELECT CAST(vec_id AS BIGINT) AS vec_id, "
        "list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q "
        f"FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    import numpy as np

    ids = np.array([r[0] for r in rel], dtype=np.int64)
    Q = np.array([r[1] for r in rel], dtype=np.int64)
    n2 = (Q * Q).sum(axis=1)
    C = Q[ids < k][np.argsort(ids[ids < k])].copy()
    for _ in range(iters):
        cn2 = (C * C).sum(axis=1)
        dots = Q @ C.T  # exact int64
        cos = dots.astype(np.float64) / np.sqrt(
            (n2[:, None] * cn2[None, :]).astype(np.float64)
        )
        assign = np.argmax(cos, axis=1)  # first max = lowest cell on ties
        new = C.copy()
        for c in range(k):
            members = Q[assign == c]
            if len(members):
                new[c] = members.sum(axis=0) // len(members)
        C = new
    return [[int(x) for x in row] for row in C]


_IVF_CENTROIDS_CACHE: list[list[int]] | None = None


def _ivf_trained_centroids() -> list[list[int]]:
    """Trained coarse-quantizer centroids — corpus metadata, trained ONCE on
    the fixed sf0.01 embeddings (like a recorded FSST table) and baked as
    literals into BOTH engines, so the contract checks the trained-assignment
    operator itself regardless of which sf the assignment runs at."""
    global _IVF_CENTROIDS_CACHE
    if _IVF_CENTROIDS_CACHE is None:
        _IVF_CENTROIDS_CACHE = _numpy_ivf_train(_IVF_TRAIN_DIR)
    return _IVF_CENTROIDS_CACHE


def _q_ann_ivf_cells_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment against TRAINED centroids (rlv.textops.ivf_train's
    Lloyd output, baked as literals — the `_lsh_projections` pattern): the
    operator a corpus ANN index runs after training, now oracle-checked."""
    return textops.ivf_cells_trained(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        _ivf_trained_centroids(),
    )


def _ann_ivf_cells_trained_oracle() -> str:
    cents = _ivf_trained_centroids()
    values = ", ".join(
        f"({i}, [{', '.join(str(x) for x in c)}]::BIGINT[])"
        for i, c in enumerate(cents)
    )
    return f"""
WITH {_DUCK_QUANT_CTE},
c0 (cell, cq) AS (VALUES {values}),
c AS (
  SELECT cell, cq,
         list_aggregate(list_transform(list_zip(cq, cq), p -> p[1] * p[2]),
                        'sum') AS cn2
  FROM c0
),
s AS (
  SELECT n.vec_id, c.cell,
         list_aggregate(list_transform(list_zip(n.q, c.cq), p -> p[1] * p[2]), 'sum')
           / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) AS cos
  FROM n, c
),
r AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rk
  FROM s
)
SELECT vec_id, CAST(cell AS INT) AS cell FROM r WHERE rk = 1
"""


def _q_run_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run_frequency / empirical run statistics (v:3032-3049): per source, a
    log2-bucketed histogram of maximal-run lengths — the selector's RLE-vs-
    bitpack signal, aggregated corpus-wide (map-side combinable)."""
    runs = engine.runs_pass(_token_df(spark, sf_dir))
    docs = _token_df(spark, sf_dir).select("doc_id", "source")
    return (
        runs.join(docs, "doc_id")
        .select(
            "source",
            # floor(log2(c)) == bit_length(c) - 1, computed with exact
            # integer/string ops (cross-engine float log2 is ulp-hazardous)
            F.expr("CAST(length(bin(run_count)) - 1 AS INT)").alias("len_bucket"),
        )
        .groupBy("source", "len_bucket")
        .agg(F.count("*").alias("n_runs"))
    )


def _q_chunked_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed streaming-encoder API (stream_complete_encode,
    v:4544-4549): each doc's tokens arrive as 3 ordered chunks, the grouped
    stitch-encode reassembles them, and the result must equal whole-array
    encoding (stream_eq_batch, v:4695-4715) — the oracle recomputes n_runs
    AND the exact RLE block byte size from SQL window stats."""
    df = _token_df(spark, sf_dir)
    chunks = df.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 2), i -> struct(i AS chunk_idx, "
                "slice(tokens, CAST(i * ceil(size(tokens) / 3.0) AS INT) + 1, "
                "CAST(ceil(size(tokens) / 3.0) AS INT)) AS tokens))"
            )
        ).alias("c"),
    ).select("doc_id", "c.chunk_idx", "c.tokens")
    enc = engine.encode_chunked_sequences(chunks)
    return enc.select("doc_id", "n_tok", "n_runs", "enc_bytes")


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed ANN search (probe nprobe=2 cells, rank within) — the
    end-to-end bucketed-search scale path; `ann_topk` is its brute-force
    recall baseline."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return textops.ivf_topk(emb)


def _q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash byte-band near-dup pairs with the in-bucket Hamming filter and
    the bucket cap live (max_bucket=64): oversized buckets — mass-duplicated
    boilerplate — are dropped before any per-bucket array materializes.  The
    oracle applies the identical cap, so the cap semantics itself is
    hash-checked."""
    return textops.simhash_neardup_pairs(_docs(spark, sf_dir), max_bucket=64)


def _q_simhash_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degenerate-content monitor behind the near-dup bucket cap:
    per-LSH-bucket doc counts with the dropped verdict at max_bucket=64 —
    what a corpus pipeline alerts on instead of pair-expanding."""
    return textops.simhash_bucket_stats(_docs(spark, sf_dir), max_bucket=64)


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction through the real mapInPandas plumbing
    (rlv.multimodal): a media table derived deterministically from documents
    (payload = text bytes, kind = doc_id mod 3), features from the stubbed
    decode seam (sha256-derived).  The oracle recomputes byte counts AND the
    first feature value from DuckDB's sha256 — the whole Arrow batch path is
    independently checked."""
    _ensure_shipped(spark)
    from rlv import multimodal

    media = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.expr(
            "element_at(array('image','audio','video'), CAST(doc_id % 3 AS INT) + 1)"
        ).alias("kind"),
        F.col("text").cast("binary").alias("payload"),
    )
    feats = multimodal.extract_features_pass(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.floor(F.element_at("features", 1).cast("double") * 1_000_000_000)
        .cast("bigint")
        .alias("f0_e9"),
    )


def _q_stream_chunked_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL Structured Streaming encoder (applyInPandasWithState,
    rlv.streaming.chunked_runs_stream): every doc's tokens arrive as 3
    ordered chunks through a real file stream, the per-doc O(1)-state fold
    stitches seams and appends completed runs to the sink.  The emitted run
    stream must equal the batch decomposition (stream_eq_batch,
    rl_encoding.v:4695-4715) — so the oracle is the plain run_decompose SQL,
    making the stateful streaming path itself hash-checked."""
    _ensure_shipped(spark)
    from rlv import streaming

    df = _token_df(spark, sf_dir)
    chunks = df.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 2), i -> struct("
                "i AS chunk_idx, "
                "CAST(CASE WHEN i = 2 THEN 1 ELSE 0 END AS INT) AS is_last, "
                "slice(tokens, CAST(i * ceil(size(tokens) / 3.0) AS INT) + 1, "
                "CAST(ceil(size(tokens) / 3.0) AS INT)) AS tokens))"
            )
        ).alias("c"),
    ).select("doc_id", "c.chunk_idx", "c.is_last", "c.tokens")
    base = tempfile.mkdtemp(prefix="rlv_stream_q_")
    chunks.write.mode("overwrite").parquet(f"{base}/in")
    streaming.chunked_runs_stream(spark, f"{base}/in", f"{base}/out")
    return spark.read.parquet(f"{base}/out/runs")


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the real mapInPandas binary-in/list-of-binary-
    out plumbing (rlv.multimodal.frame_sample_pass): payload = document text
    bytes, 1 KiB frames tiling the payload (every_kth_kb=1).  The checkable
    facet is the frame accounting — count and total sampled bytes — which the
    oracle recomputes from octet lengths alone."""
    _ensure_shipped(spark)
    from rlv import multimodal

    media = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    fs = multimodal.frame_sample_pass(media, every_kth_kb=1)
    return fs.select(
        "media_id",
        "n_frames",
        F.expr(
            "aggregate(transform(frames, f -> CAST(octet_length(f) AS BIGINT)), "
            "0L, (acc, x) -> acc + x)"
        ).alias("frame_bytes"),
    )


# FLOOR-division hour bucketing (exact integers, sign-correct): Spark `div`
# truncates toward zero while DuckDB `//` floors, so pre-1970 timestamps
# (negative unix_micros) would bucket differently; subtracting pmod first
# makes the dividend an exact multiple, giving floor semantics on both
# engines for any sign.  Tested on pre-epoch rows in test_entry_contract.
_HOUR_BUCKET_SQL = (
    "(unix_micros(CAST(ts AS TIMESTAMP)) - "
    "pmod(unix_micros(CAST(ts AS TIMESTAMP)), 3600000000)) div 3600000000"
)


def _q_event_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event rollup on the events table (time-series facet):
    per (hour bucket, event_type) — event count, distinct users, exact value
    cents.  All time arithmetic on unix MICROsecond integers (unix_micros /
    epoch_us), so bucketing is bit-exact on both engines.  One partial+final
    aggregate; at 10^12 events the hour+type key keeps cardinality tiny."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.select(
            F.expr(_HOUR_BUCKET_SQL).alias("hour_bucket"),
            "event_type",
            "user_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("cents").alias("sum_cents"),
        )
    )


def _q_event_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) — the classic stateful
    time-series operator as lag + running sum windows: per (user, session) —
    event count and first/last event ids.  Gap compare runs on exact
    microsecond integers."""
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "ns",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > 1800 * 1_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("session_idx", F.sum("ns").over(w).cast("int"))
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
    )


def _q_doc_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank length percentiles per source (p50/p90/p99 of
    n_tok) — the corpus-profiling facet a training-data pipeline sizes
    batches and filters outliers with.  percentile_approx would be sketchy
    in both senses; the nearest-rank definition (value at sorted index
    floor((n-1)*p/100)) is exact integers on both engines.  One partial+final
    count per source + one per-source sort of (tiny) length ranks — the sort
    key cardinality is docs-per-source, never tokens."""
    from pyspark.sql import Window as W

    df = _token_df(spark, sf_dir).select("source", "n_tok")
    w = W.partitionBy("source").orderBy("n_tok")
    ranked = df.withColumn("rn", F.row_number().over(w))
    counts = df.groupBy("source").agg(F.count("*").alias("cnt"))
    j = ranked.join(F.broadcast(counts), "source")
    picks = [
        F.max(
            F.expr(
                f"CASE WHEN rn = (cnt - 1) * {p} div 100 + 1 "
                "THEN n_tok END"
            )
        ).alias(f"p{p}_n_tok")
        for p in (50, 90, 99)
    ]
    return j.groupBy("source").agg(
        F.max("cnt").alias("n_docs"),
        *picks,
        F.min("n_tok").alias("min_n_tok"),
        F.max("n_tok").alias("max_n_tok"),
    )


def _q_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 most frequent tokens per source with exact counts (ties break
    to the lower token id) — the vocabulary-skew monitor.  The scale shape is
    the right one: explode -> partial+final count on (source, token) — the
    shuffle carries one row per DISTINCT (source, token), never per token —
    then a tiny per-source top-k window."""
    from pyspark.sql import Window as W

    df = _token_df(spark, sf_dir)
    freq = (
        df.select("source", F.explode("tokens").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("source").orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 8)
        .select(
            "source",
            F.col("rk").cast("int").alias("rk"),
            F.col("tok").cast("int").alias("tok"),
            "n",
        )
    )


def _encode_duck(
    spark: SparkSession, prefix: str, sql: str, **encode_kw
) -> str:
    """Encode the rows of the DuckDB query ``sql`` on the table files plane
    into a fresh temp dir and return it: the source is written to
    ``<dir>/_src.parquet`` in 2048-row row groups, then
    ``TF.encode_table_files`` runs with ``rows_per_block=2048, num_tasks=2``
    unless ``encode_kw`` overrides them."""
    import duckdb
    import pyarrow.parquet as pq

    _ensure_shipped(spark)
    out = tempfile.mkdtemp(prefix=prefix)
    src_path = f"{out}/_src.parquet"
    pq.write_table(duckdb.sql(sql).arrow(), src_path, row_group_size=2048)
    TF.encode_table_files(
        spark, [src_path], out,
        **{"rows_per_block": 2048, "num_tasks": 2, **encode_kw},
    )
    return out


def _table_files_global_blocks(
    spark: SparkSession, src_table, out: str, **encode_kw
) -> DataFrame:
    """Encode ``src_table`` (a pyarrow Table, already sorted by the order
    column) on the files plane with ROW-GROUP-ALIGNED blocks, then re-key the
    written blocks relation by GLOBAL block ordinal.

    The temp input is written with ``row_group_size == rows_per_block``, so
    every block is exactly one row group of the globally-sorted file; a
    split's blocks (ascending order-col within the split) are its row groups
    in ascending rg index, so ``(split, block_idx) -> sorted(rgs)[block_idx]``
    maps each block to the file-global ordinal.  The result is identical for
    ANY ``num_tasks`` — the split-count-independence the contract queries
    run at num_tasks > 1 to demonstrate."""
    import pyarrow.parquet as pq

    from rlv import engine_files
    src_path = f"{out}/_src.parquet"
    rows_per_block = encode_kw["rows_per_block"]
    pq.write_table(src_table, src_path, row_group_size=rows_per_block)
    TF.encode_table_files(spark, [src_path], out, **encode_kw)
    mpdf = engine_files._read_manifest_pdf(out)
    rows = []
    for rec in mpdf.to_dict("records"):
        import json as _json

        rgs = sorted(rg for _, rg in _json.loads(rec["pieces"]))
        for bi, rg in enumerate(rgs):
            rows.append((str(rec["split_id"]), bi, rg))
    gmap = spark.createDataFrame(rows, "split_seq string, block_idx int, gblock int")
    return (
        spark.read.parquet(f"{out}/blocks")
        .withColumn("block_idx", F.col("block_idx").cast("int"))
        .join(F.broadcast(gmap), ["split_seq", "block_idx"])
        .drop("block_idx")
        .withColumnRenamed("gblock", "block_idx")
    )


def _q_table_encode_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-column engine on the FILES plane (rlv.table_files): encode
    four `orders` columns — two ints plus two strings as per-block dense
    codes — through the zero-shuffle pyarrow data plane (num_tasks=4 splits,
    2048 rows/block, ordered by o_orderkey), then return the blocks relation
    re-keyed by GLOBAL block ordinal (`_table_files_global_blocks`), so the
    result is independent of how many splits the planner cut.  The oracle
    rebuilds every (block, column) sequence with SQL windows and re-runs the
    exact codec-size model, so the files plane's per-column selection +
    exact sizes are checked end to end against independently derived SQL."""
    _ensure_shipped(spark)
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="rlv_tf_q_")
    src = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_orderpriority"],
    ).sort_by("o_orderkey")
    blocks = _table_files_global_blocks(
        spark, src, out,
        order_col="o_orderkey",
        int_cols=["o_orderkey", "o_custkey"],
        str_cols=["o_orderstatus", "o_orderpriority"],
        rows_per_block=2048,
        num_tasks=4,
    )
    return blocks.select(
        F.col("block_idx").cast("int").alias("block_idx"),
        "col_name",
        "n_values",
        "n_runs",
        F.col("codec_id").cast("int").alias("codec_id"),
        "enc_bytes",
        # BIGINT, not decimal(38,0): the per-block sums provably fit
        # int64 at any contract SF, and the driver's value hasher
        # normalizes Decimal differently per engine (r4's only fails)
        F.col("sum_val").cast("bigint").alias("sum_val"),
    )


def _q_table_encode_nullable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The validity (NULL) plane, oracle-checked end to end: a nullable int
    column (o_custkey NULLed where o_orderkey % 7 = 0) and a nullable string
    column (o_orderpriority NULLed where o_orderkey % 5 = 3) encode through
    the files plane; blocks containing NULLs carry the bit-packed NULLW
    validity wrapper, priced exactly.  The oracle recomputes per-block
    null counts, the inner codec selection over the VALID values, and the
    wrapper overhead — so the whole validity plane (selection + exact wrapped
    sizes) is independently derived in SQL.  Runs at num_tasks=2 with the
    same global block re-key as `table_encode_files`."""
    _ensure_shipped(spark)
    import duckdb

    out = tempfile.mkdtemp(prefix="rlv_tfn_q_")
    src = duckdb.sql(
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey"
    ).arrow()
    blocks = _table_files_global_blocks(
        spark, src, out,
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n"],
        str_cols=["pri_n"],
        rows_per_block=2048,
        num_tasks=2,
    )
    return blocks.select(
        F.col("block_idx").cast("int").alias("block_idx"),
        "col_name",
        "n_values",
        "n_nulls",
        "n_runs",
        F.col("codec_id").cast("int").alias("codec_id"),
        "enc_bytes",
        F.col("sum_val").cast("bigint").alias("sum_val"),
    )


def _q_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH candidate pairs: docs sharing any band hash are
    near-dup candidates — the O(n^2)-avoiding scale path.

    Pairs are generated INSIDE each band bucket (groupBy band -> sorted doc
    set -> pairwise expansion) rather than by self-joining the bands relation,
    and buckets over ``max_bucket=64`` docs are dropped BEFORE the
    ``collect_set`` materializes them (the cap runs on a map-side-combinable
    count, so no executor ever holds an unbounded bucket array; at corpus
    scale an oversized bucket is the mass-duplication signal, not near-dup
    candidates).  The bands relation is STAGED to scratch parquet: the
    shingle->minhash pipeline runs once for both the size count and the
    expansion, and no cached RDD outlives the query.  The oracle applies the
    identical cap."""
    max_bucket = 64
    bands = textops._stage(_q_minhash_bands(spark, sf_dir), None, "mh_bands")
    sizes = bands.groupBy("band_idx", "band_hash").agg(F.count("*").alias("_bn"))
    capped = bands.join(
        F.broadcast(
            sizes.filter(F.col("_bn") > max_bucket).select("band_idx", "band_hash")
        ),
        ["band_idx", "band_hash"],
        "left_anti",
    )
    buckets = (
        capped.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds)), y -> "
                "struct(x AS a, y AS b))))"
            )
        ).alias("p")
    )
    return pairs.select(
        F.col("p.a").alias("doc_id_a"), F.col("p.b").alias("doc_id_b")
    ).distinct()


def _q_zonemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown into the ENCODED format: a range scan over an
    encoded table decodes only blocks whose zone map ([min_val, max_val]
    over valid values) intersects the range — the block-skipping read path.
    The checkable facet is exactness: the pruned scan must return precisely
    the rows a plain SQL WHERE returns (NULLs excluded, BETWEEN
    semantics), on a NULLABLE column."""
    out = _encode_duck(
        spark, "rlv_zm_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey", int_cols=["o_orderkey", "custkey_n"],
    )
    got = TF.scan_table_files_where(
        spark, out, [("between", "custkey_n", 100, 499)]
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("custkey_n").cast("bigint").alias("custkey_n"),
    )


def _q_zonemap_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection scan over the encoded format: the zone-map range predicate
    prunes blocks, then ONLY the projected columns' payloads are fetched —
    including a nullable STRING column gathered through its per-block
    dictionary sidecar.  The checkable facet: (predicate pushdown ×
    column pruning × NULL preservation) must equal a plain SQL
    SELECT-WHERE, exactly."""
    out = _encode_duck(
        spark, "rlv_zmp_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE o_orderkey % 1000 END AS total_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL "
        "     ELSE o_orderpriority END AS pri_s "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n", "total_n"],
        str_cols=["pri_s"],
    )
    got = TF.scan_table_files_where(
        spark, out, [("between", "custkey_n", 100, 499)],
        columns=["o_orderkey", "pri_s", "total_n"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("pri_s").alias("pri_s"),
        F.col("total_n").cast("bigint").alias("total_n"),
    )


def _q_dict_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING-equality pushdown into the encoded format
    (:func:`rlv.table_files.scan_table_files_where`, one ``eq``
    predicate): blocks prune on
    dictionary-sidecar MEMBERSHIP (the literal's absence from a block's
    sorted-distinct dictionary is the skip statistic — the string
    counterpart of int zone maps), survivors match their per-block dense
    code for the literal's rank, and the projection gathers a nullable int
    column alongside.  The predicate string column is NULLABLE, so SQL
    equality semantics (NULL never matches) ride the validity plane.  The
    oracle is the plain SELECT-WHERE over the same derivation.  (The
    nullable projection is named so the unique non-null order key sorts
    first in the driver's column-sorted compare.)"""
    out = _encode_duck(
        spark, "rlv_dfs_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey"], str_cols=["pri_n"],
    )
    got = TF.scan_table_files_where(
        spark, out, [("eq", "pri_n", "1-URGENT")],
        columns=["o_orderkey", "pri_n", "opt_custkey"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "pri_n",
        F.col("opt_custkey").cast("bigint").alias("opt_custkey"),
    )


def _q_dict_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING-range pushdown into the encoded format
    (:func:`rlv.table_files.scan_table_files_where`, one ``str_between``
    predicate): string columns
    have no value zone map, but each block's dictionary sidecar IS its
    sorted-distinct valid values, so ``BETWEEN`` evaluates per block
    against the sidecar alone — blocks with no in-range entry prune
    without payload IO, survivors match per-block rank SETS, and blocks
    whose whole dictionary is in range skip the membership test entirely.
    The predicate column is NULLABLE (NULL never matches BETWEEN) and the
    projection carries a nullable int column through the same scan.  The
    oracle is the plain SELECT-WHERE-BETWEEN under binary collation."""
    out = _encode_duck(
        spark, "rlv_drs_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey"], str_cols=["pri_n"],
    )
    got = TF.scan_table_files_where(
        spark, out, [("str_between", "pri_n", "2", "4z")],
        columns=["o_orderkey", "pri_n", "opt_custkey"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "pri_n",
        F.col("opt_custkey").cast("bigint").alias("opt_custkey"),
    )


def _q_dict_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-prefix pushdown into the encoded format
    (:func:`rlv.table_files.scan_table_files_where`, one ``prefix``
    predicate): the prefix
    predicate evaluates vectorized against each block's dictionary
    sidecar (``binary_slice`` equality over the sorted-distinct entries),
    blocks with no prefixed entry prune without touching their payload,
    and survivors match per-block rank sets — parquet's dictionary-page
    LIKE filtering, served by our sidecar.  The predicate column is a
    derived 100-value tag (NULLABLE: NULL never matches LIKE); the oracle
    is the plain SELECT-WHERE-LIKE over the same derivation."""
    out = _encode_duck(
        spark, "rlv_dps_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 6 = 2 THEN NULL "
        "     ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') "
        "END AS tag_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey"], str_cols=["tag_n"],
    )
    got = TF.scan_table_files_where(
        spark, out, [("prefix", "tag_n", "grp04")],
        columns=["o_orderkey", "tag_n", "opt_custkey"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "tag_n",
        F.col("opt_custkey").cast("bigint").alias("opt_custkey"),
    )


def _q_where_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONJUNCTIVE predicate pushdown into the encoded format
    (:func:`rlv.table_files.scan_table_files_where`): an int zone-map
    range AND an IN-list AND a LIKE-prefix evaluated together in one
    pass — each file's surviving block set is the INTERSECTION of every
    predicate's prune (zone maps for the range, dictionary sidecars for
    the memberships), so payload IO is bounded by the most selective
    predicate.  All three predicate columns are NULLABLE (SQL AND: a NULL
    in any predicate drops the row); the oracle is the plain
    SELECT-WHERE with the stacked conjunction."""
    out = _encode_duck(
        spark, "rlv_whr_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 6 = 2 THEN NULL "
        "     ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') "
        "END AS tag_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n"], str_cols=["pri_n", "tag_n"],
    )
    got = TF.scan_table_files_where(
        spark, out,
        [("between", "custkey_n", 100, 1200),
         ("in", "pri_n", ["1-URGENT", "3-MEDIUM"]),
         ("prefix", "tag_n", "grp0")],
        columns=["o_orderkey", "pri_n", "tag_n", "custkey_n"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "pri_n", "tag_n",
        F.col("custkey_n").cast("bigint").alias("custkey_n"),
    )


def _q_dpp_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition-pruning-style JOIN over the encoded format
    (:func:`rlv.table_files.semijoin_scan_table_files`): the dimension
    side is filtered at runtime, its distinct keys are collected at the
    driver (the bounded runtime filter a warehouse derives from the dim
    side of a selective join), and pushed into the fact scan as
    dictionary-sidecar IN-list membership — fact blocks containing NO dim
    key never touch payload.  The surviving fact rows then broadcast-join
    back to the dim for its attribute.  The fact's key column is NULLABLE
    (SQL join: NULL never matches); the oracle is the plain SQL
    join-with-filter."""
    out = _encode_duck(
        spark, "rlv_dpp_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey"], str_cols=["pri_n"],
    )
    # runtime-filtered dim: the priorities sorting below '4', with an
    # attribute to carry through the join
    dim = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_orderpriority").alias("pri"))
        .where(F.col("pri") < "4")
        .distinct()
        .withColumn("pri_len", F.length("pri").cast("bigint"))
    )
    fact = TF.semijoin_scan_table_files(
        spark, out, "pri_n", dim, dim_key="pri",
        columns=["o_orderkey", "pri_n", "opt_custkey"],
    )
    return (
        fact.join(F.broadcast(dim), fact["pri_n"] == dim["pri"])
        .select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "pri_n",
            F.col("opt_custkey").cast("bigint").alias("opt_custkey"),
            "pri_len",
        )
    )


def _q_int_in_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT IN-list pushdown (the ``int_in`` predicate of
    :func:`rlv.table_files.scan_table_files_where`): zone maps prune
    blocks NO literal falls inside (sorted-literal searchsorted against
    each block's [min, max] — sparse literals on a clustered column skip
    the gaps between them), survivors mask with ``np.isin``, and constant
    blocks whose value is a literal full-match.  Stacked with a string
    membership so the conjunction machinery carries both.  The oracle is
    plain SQL ``WHERE v IN (...) AND s IN (...)``."""
    out = _encode_duck(
        spark, "rlv_iin_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey % 250 END "
        "  AS code_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "code_n"], str_cols=["pri_n"],
    )
    got = TF.scan_table_files_where(
        spark, out,
        [("int_in", "code_n", [7, 41, 88, 199, 998]),
         ("in", "pri_n", ["2-HIGH", "3-MEDIUM"])],
        columns=["o_orderkey", "code_n", "pri_n"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("code_n").cast("bigint").alias("code_n"),
        "pri_n",
    )


def _q_null_pred_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-predicate and negated-membership pushdown (the ``isnull`` /
    ``ne`` predicate kinds of
    :func:`rlv.table_files.scan_table_files_where`): a validity predicate
    classifies blocks pruned / full / partial from ``(n_values, n_nulls)``
    metadata ALONE — ``IS NULL`` reads payload only at blocks that mix
    NULL and valid rows — and ``ne`` complements a dictionary-membership
    matcher over ENTRIES (a block whose whole dictionary is the literal
    prunes; NULL still never matches — SQL three-valued ``<>``).  The
    oracle is the plain SQL ``IS NULL AND <>`` conjunction."""
    out = _encode_duck(
        spark, "rlv_nul_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 6 = 2 THEN NULL "
        "     ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') "
        "END AS tag_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n"], str_cols=["pri_n", "tag_n"],
    )
    got = TF.scan_table_files_where(
        spark, out,
        [("isnull", "custkey_n"), ("ne", "pri_n", "1-URGENT")],
        columns=["o_orderkey", "custkey_n", "pri_n", "tag_n"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("custkey_n").cast("bigint").alias("custkey_n"),
        "pri_n", "tag_n",
    )


def _q_neg_pred_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated-predicate aggregate pushdown (``not_between`` /
    ``not_in`` / ``notnull`` under
    :func:`rlv.table_files.agg_table_files_where`): NOT BETWEEN mirrors
    the zone-map classification (a block nested INSIDE [lo, hi] prunes, a
    no-NULL block whose zone map misses it entirely full-matches — so the
    aggregate still runs decode-free over run lists away from the range's
    boundary), NOT IN complements dictionary membership, and IS NOT NULL
    resolves from block null counts.  The oracle is the plain SQL
    aggregate under the negated conjunction."""
    out = _encode_duck(
        spark, "rlv_neg_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n", "cents_n"],
        str_cols=["pri_n"],
    )
    # contract outputs must be driver-hash-stable: no Decimal columns
    return TF.agg_table_files_where(
        spark, out, "cents_n",
        [("not_between", "custkey_n", 200, 1100),
         ("not_in", "pri_n", ["1-URGENT", "2-HIGH"]),
         ("notnull", "cents_n")],
    ).withColumn("sum_val", F.col("sum_val").cast("bigint"))


def _q_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column aggregate pushdown
    (:func:`rlv.table_files.agg_table_files_where` with a value-column
    LIST): the predicate conjunction classifies and masks ONCE and every
    listed column aggregates in the same pass — k aggregate sets for one
    predicate evaluation, one labeled row per column.  The oracle is the
    per-column SQL aggregate UNION ALL under the same WHERE."""
    out = _encode_duck(
        spark, "rlv_mag_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey", "cents_n"],
        str_cols=["pri_n"],
    )
    # contract outputs must be driver-hash-stable: no Decimal columns
    # (both sums provably fit int64 at this SF)
    return TF.agg_table_files_where(
        spark, out, ["cents_n", "opt_custkey"],
        [("between", "o_orderkey", 50, 12000),
         ("in", "pri_n", ["2-HIGH", "4-NOT SPECIFIED"])],
    ).withColumn("sum_val", F.col("sum_val").cast("bigint"))


def _q_enc_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoded × encoded join: BOTH sides of a fact/dim join live in our
    format — the dim side reads through an int-predicate pushdown scan of
    its own encoded dataset, its surviving keys push into the encoded
    FACT scan as a dictionary-membership runtime filter
    (:func:`rlv.table_files.semijoin_scan_table_files`), and the final
    broadcast join carries the dim attribute.  This is the plan a
    warehouse runs for a selective star join, with every byte on both
    sides served by our blocks: dim blocks prune on zone maps, fact
    blocks containing no surviving dim key never touch payload.  The
    oracle is the plain SQL join under the same dim filter."""
    fact_out = _encode_duck(
        spark, "rlv_ejf_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey"], str_cols=["pri_n"],
    )
    dim_out = _encode_duck(
        spark, "rlv_ejd_q_",
        "SELECT row_number() OVER (ORDER BY pri) AS pri_id, pri, pri_len "
        "FROM (SELECT DISTINCT o_orderpriority AS pri, "
        "      CAST(length(o_orderpriority) AS BIGINT) AS pri_len "
        f"     FROM read_parquet('{sf_dir}/orders.parquet'))",
        order_col="pri_id",
        int_cols=["pri_id", "pri_len"], str_cols=["pri"], num_tasks=1,
    )
    dim_df = TF.scan_table_files_where(
        spark, dim_out, [("between", "pri_len", 5, 8)],
        columns=["pri", "pri_len"],
    )
    fact_df = TF.semijoin_scan_table_files(
        spark, fact_out, "pri_n", dim_df, dim_key="pri",
        columns=["o_orderkey", "pri_n", "opt_custkey"],
    )
    return (
        fact_df.join(F.broadcast(dim_df),
                     fact_df["pri_n"] == dim_df["pri"])
        .select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "pri_n",
            F.col("opt_custkey").cast("bigint").alias("opt_custkey"),
            F.col("pri_len").cast("bigint").alias("pri_len"),
        )
    )


def _q_multi_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key GROUP BY pushdown
    (:func:`rlv.table_files.agg_table_files_by` with a column LIST):
    ``GROUP BY pri_n, bucket_n`` (string × int, both nullable — NULLs
    participate in key TUPLES, SQL multi-key semantics) computed from the
    blocks under a zone-map range predicate; per block each key column
    maps to a dense local id and the mixed-radix composite aggregates
    once via argsort+reduceat, so per-group Python stays O(key tuples).
    The oracle is the plain SQL two-column GROUP BY."""
    out = _encode_duck(
        spark, "rlv_mga_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 11 = 6 THEN NULL "
        "     ELSE o_custkey % 4 END AS bucket_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey", "bucket_n"],
        str_cols=["pri_n"],
    )
    got = TF.agg_table_files_by(
        spark, out, "opt_custkey", ["pri_n", "bucket_n"],
        preds=[("between", "o_orderkey", 100, 13000)],
    )
    # NULL keys stay distinct groups through the engine; the projection
    # names them with sentinels so the sorted-row compare is total
    return got.select(
        F.coalesce(F.col("pri_n"), F.lit("~null~")).alias("pri_n"),
        F.coalesce(F.col("bucket_n").cast("bigint"), F.lit(-1))
        .alias("bucket_n"),
        "n_rows", "n_vals",
        # no Decimal in contract outputs (driver-hash stability)
        F.col("sum_val").cast("bigint").alias("sum_val"),
        "min_val", "max_val",
    )


def _q_ndv_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) pushdown
    (:func:`rlv.table_files.ndv_table_files`): the exact distinct COUNT
    of a dictionary string column under a zone-map range predicate,
    composed over the predicate DISTINCT pipe — sidecars give each
    block's distinct set, predicate-full blocks contribute it without
    payload IO, partial blocks mask, and the shuffle carries ≤ NDV ×
    files values; ``null_seen`` mirrors SQL's
    ``count(*) > count(col)`` over the matching rows.  The oracle is the
    plain SQL COUNT DISTINCT under the same WHERE."""
    out = _encode_duck(
        spark, "rlv_ndv_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 6 = 2 THEN NULL "
        "     ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') "
        "END AS tag_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey"], str_cols=["tag_n"],
    )
    return TF.ndv_table_files(
        spark, out, "tag_n",
        preds=[("between", "opt_custkey", 100, 900)],
    )


def _q_or_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-disjunction pushdown (`("or", [leaf, ...])` under
    :func:`rlv.table_files.scan_table_files_where`): a node's surviving
    blocks are the UNION of its leaf survivors (int zone maps, dictionary
    sidecars, and null-count metadata each pruning their own branch) and
    its row mask the union of leaf masks, while the file still
    INTERSECTS across top-level predicates — full boolean WHERE clauses
    (conjunctions of disjunctions) pushed into the encoded format.  The
    three branches here cross types: int range OR string equality OR
    IS NULL.  The oracle is the plain SQL ``(a OR b OR c) AND d``."""
    out = _encode_duck(
        spark, "rlv_or_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 6 = 2 THEN NULL "
        "     ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') "
        "END AS tag_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey"], str_cols=["pri_n", "tag_n"],
    )
    got = TF.scan_table_files_where(
        spark, out,
        [("or", [("between", "opt_custkey", 100, 400),
                 ("eq", "pri_n", "5-LOW"),
                 ("isnull", "tag_n")]),
         ("notnull", "pri_n")],
        columns=["o_orderkey", "opt_custkey", "pri_n", "tag_n"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("opt_custkey").cast("bigint").alias("opt_custkey"),
        "pri_n", "tag_n",
    )


def _q_where_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONJUNCTIVE aggregate pushdown
    (:func:`rlv.table_files.agg_table_files_where`): count/sum/min/max
    computed from the blocks under an int zone-map range AND a string
    IN-list — every predicate classifies blocks pruned / full / partial
    from metadata and sidecars alone, combined blocks prune when ANY
    predicate prunes, aggregate without decoding any predicate when ALL
    full-match, and otherwise decode only the non-full predicates.  All
    predicate and value columns NULLABLE; the oracle is the plain SQL
    aggregate under the stacked WHERE."""
    out = _encode_duck(
        spark, "rlv_wagg_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n", "cents_n"],
        str_cols=["pri_n"],
    )
    got = TF.agg_table_files_where(
        spark, out, "cents_n",
        [("between", "custkey_n", 100, 900),
         ("in", "pri_n", ["2-HIGH", "5-LOW"])],
    )
    return got.select(
        "n_rows", "n_vals",
        F.col("sum_val").cast("bigint").alias("sum_val"),
        "min_val", "max_val",
    )


def _q_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) pushdown (:func:`rlv.table_files.count_table_files_where`)
    — the cheapest member of the pushdown family: NO value column is ever
    read.  Pruned blocks contribute nothing, FULL blocks count from their
    recorded ``n_values`` (pure metadata), and only partial blocks decode
    — and only their non-full predicate columns.  The conjunction here
    stacks an int zone-map range, a LIKE-prefix dictionary membership,
    and IS NOT NULL (a pure metadata predicate); the oracle is plain SQL
    ``SELECT count(*)`` under the same WHERE."""
    out = _encode_duck(
        spark, "rlv_cnt_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n"], str_cols=["pri_n"],
    )
    return TF.count_table_files_where(
        spark, out,
        [("between", "o_orderkey", 2000, 90000),
         ("prefix", "pri_n", "1-"),
         ("notnull", "custkey_n")],
    )


def _q_minmax_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX pushdown (:func:`rlv.table_files.minmax_table_files_where`)
    — ``SELECT min(v), max(v) WHERE ...``: FULL-matching blocks
    contribute their recorded ZONE MAPS (metadata, no value payload);
    only boundary (partial) blocks decode the value column and mask.
    Both the predicate and value columns NULLABLE; the oracle is the
    plain SQL min/max under the same WHERE."""
    out = _encode_duck(
        spark, "rlv_mmx_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n", "cents_n"], str_cols=[],
    )
    return TF.minmax_table_files_where(
        spark, out, "cents_n",
        [("between", "o_orderkey", 5000, 100000),
         ("notnull", "custkey_n")],
    )


def _q_idx_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership-indexed point lookup on an UNCLUSTERED int key:
    `index_cols=["o_custkey"]` writes each block's sorted-distinct plane
    values into the dictionary sidecar as order-preserving keys, so
    `WHERE o_custkey IN (...)` prunes to the blocks that actually hold a
    key — zone maps alone cannot prune a scattered key.  The spec is
    classification-only (the paired IN-list spec masks rows exactly), so
    the result equals plain SQL."""
    out = _encode_duck(
        spark, "rlv_idx_q_",
        "SELECT o_orderkey, o_custkey "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey", int_cols=["o_orderkey", "o_custkey"],
        index_cols=["o_custkey"],
    )
    return TF.scan_table_files_where(
        spark, out,
        [("int_in", "o_custkey", [7, 370, 1234])],
        columns=["o_orderkey", "o_custkey"],
    ).select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("o_custkey").cast("bigint").alias("o_custkey"),
    )


def _q_str_minmax_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING MIN/MAX pushdown: `SELECT min(s), max(s) WHERE ...` routes
    through the DISTINCT pipe — full-matching blocks fold their dictionary
    sidecars (the string zone map), only boundary blocks decode — with
    SQL NULL semantics on a NULLABLE string column under an int range."""
    out = _encode_duck(
        spark, "rlv_smm_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey", int_cols=["o_orderkey"],
        str_cols=["pri_n"],
    )
    return TF.minmax_table_files_where(
        spark, out, "pri_n",
        [("between", "o_orderkey", 3000, 50000)],
    )


def _q_table_encode_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP columns on the int64 plane: o_orderdate (timestamp[us])
    encodes through the files plane as its epoch-microsecond integers —
    order-preserving and lossless, so zone maps, codec selection, and the
    per-block sum stat are all exactly the ints SQL's ``epoch_us`` yields.
    The oracle re-runs the full codec-size model over ``epoch_us(
    o_orderdate)`` sequences, checking selector + exact sizes + sums of
    the temporal plane end to end (decode-side exactness is
    pytest-drilled: tests/test_table_files.py typed-roundtrip)."""
    _ensure_shipped(spark)
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="rlv_tft_q_")
    src = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_orderdate"],
    ).sort_by("o_orderkey")
    blocks = _table_files_global_blocks(
        spark, src, out,
        order_col="o_orderkey",
        int_cols=["o_orderkey", "o_orderdate"],
        str_cols=[],
        rows_per_block=2048,
        num_tasks=2,
    )
    return blocks.filter(F.col("col_name") == "o_orderdate").select(
        F.col("block_idx").cast("int").alias("block_idx"),
        "n_values",
        "n_runs",
        F.col("codec_id").cast("int").alias("codec_id"),
        "enc_bytes",
        F.col("sum_val").cast("bigint").alias("sum_val"),
    )


def _enc_typed_orders(spark: SparkSession, sf_dir: str) -> str:
    """Shared encoded dataset of the typed-column contract queries:
    (o_orderkey int64, o_orderdate timestamp[us], o_totalprice float64)
    through the files plane — timestamps as epoch ints, floats as IEEE-754
    total-order keys."""
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="rlv_typed_q_")
    src = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_orderdate", "o_totalprice"],
    ).sort_by("o_orderkey")
    src_path = f"{out}/_src.parquet"
    pq.write_table(src, src_path, row_group_size=2048)
    TF.encode_table_files(
        spark, [src_path], out,
        order_col="o_orderkey",
        int_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
        rows_per_block=2048, num_tasks=2,
    )
    return out


def _q_ts_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed predicate pushdown — a BETWEEN over a TIMESTAMP column with
    Python ``datetime`` literals: the literals convert to epoch
    microseconds, the zone maps prune in epoch space, and the scan
    returns Spark timestamps.  The result ships the epoch back as a
    bigint (``unix_micros``) so the oracle compare is exact-integer; the
    oracle is DuckDB's ``epoch_us`` under the same WHERE."""
    _ensure_shipped(spark)
    import datetime as dt

    out = _enc_typed_orders(spark, sf_dir)
    got = TF.scan_table_files_where(
        spark, out,
        [("between", "o_orderdate",
          dt.datetime(1996, 1, 1), dt.datetime(1996, 6, 30, 23, 59, 59))],
        columns=["o_orderkey", "o_orderdate"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.unix_micros(F.col("o_orderdate")).alias("ts_us"),
    )


def _q_float_pred_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed predicate pushdown — a conjunction stacking a FLOAT64 range
    onto an int range: the float literals map through the IEEE-754
    total-order key (0 widened to both signed zeros), zone maps prune in
    key space, and the surviving rows equal plain SQL's — returned as the
    exact int key column so the driver compare is integer-exact (the
    float VALUES' bit-exactness and IN-list/zero semantics are
    pytest-drilled: tests/test_table_files.py typed-operators)."""
    _ensure_shipped(spark)
    out = _enc_typed_orders(spark, sf_dir)
    got = TF.scan_table_files_where(
        spark, out,
        [("between", "o_totalprice", 1000.0, 150000.25),
         ("between", "o_orderkey", 1, 40000)],
        columns=["o_orderkey"],
    )
    return got.select(F.col("o_orderkey").cast("bigint").alias("o_orderkey"))


def _q_ts_group_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY a TIMESTAMP key pushed into the encoded format: group
    keys are the per-block epoch ints (single-group blocks fold from
    metadata on clustered data), restored to Spark timestamps, and the
    value aggregates ride the plain-int plane.  Epoch-bigint output keys
    make the oracle compare exact."""
    _ensure_shipped(spark)
    out = _enc_typed_orders(spark, sf_dir)
    got = TF.agg_table_files_by(
        spark, out, "o_orderkey", "o_orderdate",
        preds=[("between", "o_orderkey", 1, 30000)],
    )
    return got.select(
        F.unix_micros(F.col("o_orderdate")).alias("ts_us"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("sum_val").cast("bigint").alias("sum_key"),
    )


def _enc_dec_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Shared encoded dataset of the decimal-column contract queries:
    lineitem with its currency doubles DECLARED decimal(scale 2) — the
    plane stores the exact scaled integers, so sums push down exactly —
    plus the shipdate timestamp and a synthesized unique order column."""
    return _encode_duck(
        spark, "rlv_decq_",
        "SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) "
        "  AS row_ord, l_orderkey, l_quantity, l_extendedprice, "
        "  l_shipdate, l_returnflag "
        f"FROM read_parquet('{sf_dir}/lineitem.parquet')",
        order_col="row_ord",
        int_cols=["row_ord", "l_orderkey", "l_quantity",
                  "l_extendedprice", "l_shipdate"],
        str_cols=["l_returnflag"],
        decimal_cols={"l_quantity": 2, "l_extendedprice": 2},
    )


def _q_dec_sum_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT decimal SUM pushdown: l_extendedprice (a currency double)
    declared decimal(2) stores its scaled integers, so
    ``SELECT count, sum, min, max WHERE l_shipdate IN <year>`` folds
    full blocks from stats rows (metadata sum_val); the sum ships as
    BIGINT scaled cents plus a scale column — bit-for-bit the SQL
    answer, no float drift, and no Decimal output for the driver's
    hasher to normalize.  The oracle re-derives the scaled-integer sum
    in DuckDB."""
    _ensure_shipped(spark)
    import datetime as dt

    out = _enc_dec_lineitem(spark, sf_dir)
    got = TF.agg_table_files_where(
        spark, out, "l_extendedprice",
        [("between", "l_shipdate",
          dt.datetime(1996, 1, 1), dt.datetime(1996, 12, 31, 23, 59, 59))],
    )
    # sums ship as BIGINT scaled cents + an explicit scale column (a
    # Decimal output column is the one thing the driver's hasher
    # normalizes differently per engine); exactness is unchanged — the
    # decimal(38,2) sum times 100 is the exact scaled-integer sum.
    return got.select(
        "n_rows", "n_vals",
        (F.col("sum_val") * F.lit(100)).cast("bigint").alias("sum_cents"),
        F.lit(2).cast("int").alias("scale"),
        F.col("min_val").cast("double").alias("min_val"),
        F.col("max_val").cast("double").alias("max_val"),
    )


def _q_dec_group_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped GROUP BY over the encoded format: group by the
    dictionary string key, summing a decimal-declared currency column
    under a timestamp predicate — counts and BIGINT scaled-cents sums
    exactly equal to SQL's."""
    _ensure_shipped(spark)
    import datetime as dt

    out = _enc_dec_lineitem(spark, sf_dir)
    got = TF.agg_table_files_by(
        spark, out, "l_quantity", "l_returnflag",
        preds=[("between", "l_shipdate",
                dt.datetime(1995, 1, 1),
                dt.datetime(1998, 9, 2, 23, 59, 59))],
    )
    # scaled-cents BIGINT sums (see dec_sum_pushdown: no Decimal output
    # column may reach the driver's hasher)
    return got.select(
        "l_returnflag",
        "n_rows",
        (F.col("sum_val") * F.lit(100)).cast("bigint")
        .alias("sum_qty_cents"),
        F.lit(2).cast("int").alias("scale"),
        F.col("min_val").cast("double").alias("min_qty"),
        F.col("max_val").cast("double").alias("max_qty"),
    )


def _q_where_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY pushdown under a predicate CONJUNCTION
    (:func:`rlv.table_files.agg_table_files_by` with ``preds``): groups
    come from per-block dictionary CODES of a NULLABLE string column
    (NULL keys pool SQL-style), while an int zone-map range AND a
    LIKE-prefix membership prune/classify blocks exactly like the plain
    conjunctive aggregate — partial blocks decode only the predicates not
    full-matching there.  The oracle is the plain SQL GROUP BY under the
    stacked WHERE."""
    out = _encode_duck(
        spark, "rlv_wgag_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 11 = 5 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 6 = 2 THEN NULL "
        "     ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') "
        "END AS tag_n, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n", "cents_n"],
        str_cols=["pri_n", "tag_n"],
    )
    got = TF.agg_table_files_by(
        spark, out, "cents_n", "pri_n",
        preds=[("between", "custkey_n", 100, 1200),
               ("prefix", "tag_n", "grp0")],
    )
    return got.select(
        F.coalesce(F.col("pri_n"), F.lit("~null~")).alias("grp"),
        "n_rows",
        "n_vals",
        F.col("sum_val").cast("bigint").alias("sum_val"),
        "min_val",
        "max_val",
    )


def _q_ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS over the encoded format
    (:func:`rlv.table_files.ctas_table_files`): the rows matching a
    dictionary IN-list materialize as a NEW encoded dataset (read side =
    the conjunctive pruned scan; staged source kept for lineage verify;
    FSST symbols carried over), and the checkable facet is the ROUND TRIP:
    a full scan of the child must equal plain SQL SELECT-WHERE on the
    source derivation — filter exactness, NULL preservation, and width
    restore THROUGH encode → scan → re-encode → scan."""
    _ensure_shipped(spark)
    import duckdb
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="rlv_ctas_q_")
    src = duckdb.sql(
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey"
    ).arrow()
    src_path = f"{out}/_src.parquet"
    pq.write_table(src, src_path, row_group_size=2048)
    src_enc = f"{out}/src_enc"
    TF.encode_table_files(
        spark, [src_path], src_enc,
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey"], str_cols=["pri_n"],
        rows_per_block=2048, num_tasks=2,
    )
    dst = f"{out}/dst"
    TF.ctas_table_files(
        spark, src_enc, dst,
        preds=[("in", "pri_n", ["1-URGENT", "3-MEDIUM"])],
        columns=["o_orderkey", "pri_n", "opt_custkey"],
        rows_per_block=2048,
    )
    n_rows = int(src.num_rows)
    got = TF.scan_table_files_where(
        spark, dst, [("between", "o_orderkey", 0, n_rows + 1)],
        columns=["o_orderkey", "pri_n", "opt_custkey"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "pri_n",
        F.col("opt_custkey").cast("bigint").alias("opt_custkey"),
    )


def _q_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER BY write path
    (:func:`rlv.table_files.cluster_encode_table_files`): the table is
    globally sorted by a value-scattered NULLABLE column (range partition
    + partition sort — Spark's distributed sort), a cluster-order ordinal
    becomes the dataset's order column, and the encode runs zero-shuffle
    per sorted partition.  The checkable facet is exactness THROUGH the
    reorganization: a zone-map range scan over the clustered layout must
    return precisely what plain SQL WHERE returns on the source — same
    rows, same NULL preservation — while the layout change turns the
    zone maps from useless (every block spans the range) to
    O(selectivity).  The oracle is the plain SELECT-WHERE."""
    _ensure_shipped(spark)
    import duckdb
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="rlv_clu_q_")
    src = duckdb.sql(
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 11 = 7 THEN NULL "
        "     ELSE (o_orderkey * 37) % 1000 END AS val_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey"
    ).arrow()
    # no leading underscore: spark.read.parquet treats _-prefixed files
    # as metadata and would see an empty source
    src_path = f"{out}/src.parquet"
    pq.write_table(src, src_path, row_group_size=2048)
    enc = f"{out}/enc"
    TF.cluster_encode_table_files(
        spark, [src_path], enc, cluster_by="val_n",
        int_cols=["o_orderkey", "val_n"],
        rows_per_block=2048, num_tasks=4,
    )
    got = TF.scan_table_files_where(
        spark, enc, [("between", "val_n", 100, 299)],
        columns=["o_orderkey", "val_n"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("val_n").cast("bigint").alias("val_n"),
    )


def _q_pushdown_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation pushed INTO the encoded format
    (:func:`rlv.table_files.agg_table_files_where`): count/sum/min/max
    over a range predicate computed from the blocks — zone maps classify
    predicate blocks as pruned / full-match / partial, full-match value
    blocks aggregate without decoding the predicate (RLE blocks sum their
    run list without ever expanding), and only range-boundary blocks
    decode.  Both
    the predicate and the value column are NULLABLE, so the whole
    NULL-semantics surface (NULL pred never matches; count(v)/sum/min/max
    skip NULL values) rides through the validity plane.  The oracle is the
    plain SQL aggregate over the same derivation."""
    out = _encode_duck(
        spark, "rlv_agg_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n", "cents_n"],
    )
    got = TF.agg_table_files_where(
        spark, out, "cents_n", [("between", "custkey_n", 100, 499)]
    )
    return got.select(
        "n_rows",
        "n_vals",
        F.col("sum_val").cast("bigint").alias("sum_val"),
        "min_val",
        "max_val",
    )


def _q_group_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY pushed into the encoded format
    (:func:`rlv.table_files.agg_table_files_by`): per-group
    count/count(v)/sum/min/max over a zone-map range predicate, grouped by
    a NULLABLE STRING column — each task aggregates dictionary CODES and
    names the groups with one small sidecar decode per block, so the
    strings never materialize per-row, and the shuffle carries only
    groups × files partial rows.  NULL group keys pool into one SQL-style
    NULL group (projected as '~null~' in BOTH engines so the driver's
    column-sorted row compare never orders None against str); NULL values
    are skipped by n_vals/sum/min/max via the validity plane.  The oracle
    is the plain SQL GROUP BY over the same derivation."""
    out = _encode_duck(
        spark, "rlv_gagg_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 11 = 5 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "cents_n"], str_cols=["pri_n"],
    )
    got = TF.agg_table_files_by(
        spark, out, "cents_n", "pri_n",
        preds=[("between", "o_orderkey", 3000, 45000)],
    )
    return got.select(
        F.coalesce(F.col("pri_n"), F.lit("~null~")).alias("grp"),
        "n_rows",
        "n_vals",
        F.col("sum_val").cast("bigint").alias("sum_val"),
        "min_val",
        "max_val",
    )


def _q_compacted_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-aggregate pushdown ACROSS A COMPACTION: encode orders
    into 4 splits, compact them into ONE bin
    (:func:`rlv.engine_files.compact_blocks` — merged file written one
    row group per absorbed split), then run
    :func:`rlv.table_files.agg_table_files_by` under a zone-map range ×
    LIKE-prefix conjunction.  The query plans one task PER ABSORBED
    SEGMENT (``_query_tasks`` fans the single merged file back out to 4
    segment-scoped tasks, asserted below — task granularity is
    independent of the file-merge history), and every per-segment read
    pushes a ``split_seq`` filter that prunes to that segment's row
    groups.  The oracle is the plain SQL GROUP BY over the same
    derivation — compaction must be invisible to every result byte."""
    _ensure_shipped(spark)
    import duckdb
    import pyarrow.parquet as pq

    from rlv import engine_files, table_files as TF

    out = tempfile.mkdtemp(prefix="rlv_cga_q_")
    src = duckdb.sql(
        "SELECT o_orderkey, "
        "'Clerk#' || lpad(CAST(o_custkey % 1000 AS VARCHAR), 6, '0') "
        "  AS clerk, "
        "CASE WHEN o_orderkey % 11 = 5 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey"
    ).arrow()
    src_path = f"{out}/_src.parquet"
    pq.write_table(src, src_path, row_group_size=2048)
    TF.encode_table_files(
        spark, [src_path], out,
        order_col="o_orderkey",
        int_cols=["o_orderkey", "cents_n"],
        str_cols=["pri_n", "clerk"],
        rows_per_block=2048, num_tasks=4,
    )
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 40)
    assert res["bins_written"] == 1 and res["files_absorbed"] == 4, res
    tasks = TF._query_tasks(out).to_pandas()
    assert tasks["file"].nunique() == 1 and len(tasks) == 4, tasks
    assert tasks["segment"].notna().all()
    got = TF.agg_table_files_by(
        spark, out, "cents_n", "pri_n",
        preds=[("between", "o_orderkey", 3000, 45000),
               ("prefix", "clerk", "Clerk#0000")],
    )
    return got.select(
        F.coalesce(F.col("pri_n"), F.lit("~null~")).alias("grp"),
        "n_rows",
        "n_vals",
        F.col("sum_val").cast("bigint").alias("sum_val"),
        "min_val",
        "max_val",
    )


def _q_dict_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT served from the encoded format's METADATA alone
    (:func:`rlv.table_files.distinct_table_files`): a string column's
    per-block dictionary sidecars are its sorted-distinct valid values, and
    the NULL row's presence comes from the blocks' ``n_nulls`` — no payload
    byte is read, so IO is O(distinct values) regardless of row count.  The
    predicate column is NULLABLE; NULL projects as '~null~' in BOTH engines
    (driver's column-sorted compare never orders None against str).  Oracle
    = plain SELECT DISTINCT over the same derivation."""
    out = _encode_duck(
        spark, "rlv_dist_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey"], str_cols=["pri_n"],
    )
    got = TF.distinct_table_files(spark, out, "pri_n")
    return got.select(
        F.coalesce(F.col("pri_n"), F.lit("~null~")).alias("val")
    )


def _q_int_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT pushed into the INT codecs
    (:func:`rlv.table_files.distinct_table_files` int branch /
    :func:`rlv.blocks.distinct_block_values`): an RLE block uniques its
    run-value plane without expanding a single row, a DICT block reads only
    its dictionary plane, and the NULL row comes from ``n_nulls`` metadata —
    DISTINCT as compute-over-compressed (run lists are the sufficient
    statistic, cf. rl_encoding.v:2735-2762).  The column is NULLABLE and
    low-NDV so the no-expansion codecs actually get selected; NULL projects
    as -999999 in BOTH engines.  Oracle = plain SELECT DISTINCT over the
    same derivation."""
    out = _encode_duck(
        spark, "rlv_idist_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 9 = 4 THEN NULL "
        "     ELSE o_custkey % 97 END AS code_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey", int_cols=["o_orderkey", "code_n"],
    )
    got = TF.distinct_table_files(spark, out, "code_n")
    return got.select(
        F.coalesce(F.col("code_n").cast("bigint"), F.lit(-999999))
        .alias("val")
    )


def _q_dict_in_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list membership pushdown
    (:func:`rlv.table_files.scan_table_files_where`, one ``in`` predicate):
    ``col IN (a, b, missing)``
    on a NULLABLE dictionary column, projected to (key, predicate col,
    nullable int) — blocks prune when their dictionary contains no literal;
    survivors match per-block code SETS.  One literal is absent from the
    data on purpose.  Oracle = plain SQL WHERE ... IN (...)."""
    out = _encode_duck(
        spark, "rlv_in_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey"], str_cols=["pri_n"],
    )
    return TF.scan_table_files_where(
        spark, out,
        [("in", "pri_n", ["2-HIGH", "4-NOT SPECIFIED", "9-MISSING"])],
        columns=["o_orderkey", "pri_n", "opt_custkey"],
    )


def _q_topk_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K pushdown (:func:`rlv.table_files.topk_table_files`): k extreme
    rows of a tie-heavy NULLABLE int column in both directions, selected by
    a zone-map-pruned threshold job + pruned scan — never a full sort.  The
    order column in the projection makes the tie-broken row set
    deterministic.  Oracle = plain ``WHERE col IS NOT NULL ORDER BY col
    [DESC], key LIMIT k`` per direction, UNION ALL."""
    out = _encode_duck(
        spark, "rlv_topk_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE o_custkey % 97 END AS v_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "v_n"], str_cols=[],
    )
    asc = TF.topk_table_files(spark, out, "v_n", 25, ascending=True)
    desc = TF.topk_table_files(spark, out, "v_n", 25, ascending=False)
    return asc.withColumn("direction", F.lit("asc")).unionAll(
        desc.withColumn("direction", F.lit("desc"))
    )


def _q_where_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K under a predicate CONJUNCTION
    (:func:`rlv.table_files.topk_table_files` with ``preds``): the
    threshold pass bounds from FULL-matching blocks' exact counts only
    (partial blocks may match fewer rows, so their counts cannot tighten
    the bound — correctness over pruning) and masks partial blocks; the
    final pass stacks ``col <= T`` onto the conjunction through the
    conjunctive scan.  Tie-heavy NULLABLE sort column, NULLABLE string
    predicate, both directions.  Oracle = plain ``WHERE ... AND col IS NOT
    NULL ORDER BY col [DESC], key LIMIT k`` per direction, UNION ALL."""
    out = _encode_duck(
        spark, "rlv_wtopk_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE o_custkey % 97 END AS v_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "v_n"], str_cols=["pri_n"],
    )
    preds = [("in", "pri_n", ["1-URGENT", "4-NOT SPECIFIED"]),
             ("between", "o_orderkey", 1000, 14000)]
    asc = TF.topk_table_files(spark, out, "v_n", 25, ascending=True,
                              preds=preds)
    desc = TF.topk_table_files(spark, out, "v_n", 25, ascending=False,
                               preds=preds)
    return asc.withColumn("direction", F.lit("asc")).unionAll(
        desc.withColumn("direction", F.lit("desc"))
    )


def _q_where_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT under a predicate CONJUNCTION
    (:func:`rlv.table_files.distinct_table_files` with ``preds``):
    predicate-pruned blocks contribute nothing, FULL blocks keep the
    metadata-only shape (whole dictionary + ``n_nulls`` for the NULL row),
    and only PARTIAL blocks decode their non-full predicates and mask —
    SQL's ``SELECT DISTINCT col WHERE ...`` with the filter's NULL-row
    semantics (the NULL row appears iff a MATCHING row is NULL, not
    whenever the column has NULLs).  NULL projects as '~null~' in both
    engines; the oracle is the plain SQL DISTINCT-WHERE."""
    out = _encode_duck(
        spark, "rlv_wdis_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n"], str_cols=["pri_n"],
    )
    got = TF.distinct_table_files(
        spark, out, "pri_n",
        preds=[("between", "custkey_n", 100, 700)],
    )
    return got.select(
        F.coalesce(F.col("pri_n"), F.lit("~null~")).alias("val")
    )


def _q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only ANALYZE (:func:`rlv.table_files.stats_table_files`):
    per-column n_rows / n_nulls, int zone-map min/max, and string
    NDV/min/max folded from block metadata + dictionary sidecars — no
    payload byte read.  Ints carry NULL ndv/min_str/max_str, strings NULL
    min_int/max_int (documented asymmetry: int blocks store values, string
    blocks per-block ranks).  Oracle = plain SQL aggregates per column,
    UNION ALL."""
    out = _encode_duck(
        spark, "rlv_stats_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n"], str_cols=["pri_n"],
    )
    return TF.stats_table_files(spark, out)


def _q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH candidate
    pairs, min doc_id as representative — the dedup decision a pipeline acts
    on (keep `is_keeper`, drop the rest).  Spark runs min-label propagation
    to fixpoint (staged per round); the oracle computes true components with
    a recursive CTE, so the iterative algorithm's FIXPOINT — not a fixed
    round count — is what gets hash-checked."""
    pairs = _q_minhash_neardup_pairs(spark, sf_dir)
    return textops.neardup_components(_docs(spark, sf_dir), pairs)


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: the 50 lowest-md5(doc_id) docs per
    source — the reproducible eval-split operator (hash-rank, not random, so
    membership is engine- and retry-independent)."""
    return textops.stratified_sample(_docs(spark, sf_dir), per_stratum=50)


def _q_bigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 token BIGRAMS per source with exact counts (ties to the lower
    pair) — the order-2 vocabulary monitor next to `token_heavy_hitters`.
    Same scale shape: the shuffle carries one row per distinct (source, t1,
    t2), never per token."""
    from pyspark.sql import Window as W

    df = _token_df(spark, sf_dir)
    bi = df.select(
        "source",
        F.explode(
            # sequence(1, 0) DESCENDS in Spark — an empty/1-token doc must
            # contribute no bigrams, not a reversed pair of nulls
            F.expr(
                "CASE WHEN size(tokens) < 2 THEN "
                "CAST(array() AS array<struct<t1:int,t2:int>>) "
                "ELSE transform(sequence(1, size(tokens) - 1), "
                "i -> struct(tokens[i - 1] AS t1, tokens[i] AS t2)) END"
            )
        ).alias("b"),
    ).select("source", "b.t1", "b.t2")
    freq = bi.groupBy("source", "t1", "t2").agg(F.count("*").alias("n"))
    w = W.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("t1").asc(), F.col("t2").asc()
    )
    return (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 8)
        .select(
            "source",
            F.col("rk").cast("int").alias("rk"),
            F.col("t1").cast("int").alias("t1"),
            F.col("t2").cast("int").alias("t2"),
            "n",
        )
    )


def _q_event_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join — the time-series operator Spark's DataFrame API lacks:
    for every 'click' event, the latest 'purchase' event by the SAME user at
    or before its timestamp.  Implemented as the union-piggyback composition
    (tag both streams, one window sort per user, last_value(...) ignoring
    nulls) — one shuffle on user_id, no range-explosion join; the oracle is
    DuckDB's NATIVE `ASOF JOIN`, so the composition is checked against a
    first-class implementation.  The build side is deduped to one row per
    (user, ts) (max event_id) so the as-of pick is deterministic on ties."""
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    probe = ev.filter(F.col("event_type") == "click")
    build = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "us")
        .agg(F.max(F.struct("event_id", "cents")).alias("m"))
        .select(
            "user_id",
            "us",
            F.col("m.event_id").alias("b_event_id"),
            F.col("m.cents").alias("b_cents"),
        )
    )
    tagged = probe.select(
        "user_id", "us", F.lit(0).alias("is_b"), "event_id",
        F.lit(None).cast("long").alias("b_event_id"),
        F.lit(None).cast("long").alias("b_cents"),
    ).unionByName(
        build.select(
            "user_id", "us", F.lit(1).alias("is_b"),
            F.lit(None).cast("long").alias("event_id"),
            "b_event_id", "b_cents",
        )
    )
    # within a user: time order; at equal ts the build row sorts FIRST so a
    # probe at the same instant sees it (ASOF's <= semantics)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("is_b").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.select(
        "user_id", "us", "is_b", "event_id",
        F.last("b_event_id", ignorenulls=True).over(w).alias("asof_event_id"),
        F.last("b_cents", ignorenulls=True).over(w).alias("asof_cents"),
    )
    # a click with no prior purchase yields the -1 sentinel (NULL-free
    # contract output: the driver's sorted-value hash needs total ordering)
    return carried.filter(F.col("is_b") == 0).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("us").alias("click_us"),
        F.coalesce(F.col("asof_event_id"), F.lit(-1)).cast("long").alias(
            "asof_event_id"
        ),
        F.coalesce(F.col("asof_cents"), F.lit(-1)).cast("long").alias(
            "asof_cents"
        ),
    )


def _q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the LLM-pretraining batch-assembly operator: docs
    of each source stream (doc_id order) into fixed 2048-token packs by the
    greedy running total; each doc records its pack and start offset (a doc
    longer than the window spans packs — the consumer slices).  Exact
    integers end to end: pack_id = floor(prefix_sum / 2048).  Scale shape:
    one window cumsum per source over doc COUNTS (never tokens), map-side
    partial everything."""
    from pyspark.sql import Window as W

    cap = 2048
    df = _token_df(spark, sf_dir).select("doc_id", "source", "n_tok")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = df.withColumn("cum", F.sum("n_tok").over(w))
    return c.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.expr(f"CAST((cum - n_tok) div {cap} AS BIGINT)").alias("pack_id"),
        F.expr(f"CAST((cum - n_tok) % {cap} AS BIGINT)").alias("pack_offset"),
    )


def _q_codec_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage analytics over the encoded corpus: per (source, codec) doc
    counts, encoded bytes, and token mass — what a 100 TB operator dashboards
    to see WHERE each codec wins.  The oracle re-runs the full SQL size
    model and aggregates the same way, so the rollup is checked through the
    selector itself."""
    df = _token_df(spark, sf_dir)
    enc = engine.encode_pass(df)
    return (
        enc.filter(F.col("n_tok") > 0)
        .groupBy("source", "codec_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sum(F.col("n_tok").cast("bigint")).alias("n_tokens"),
        )
        .select(
            "source", F.col("codec_id").cast("int").alias("codec_id"),
            "n_docs", "enc_bytes", "n_tokens",
        )
    )


# MinHash-LSH candidate pairs, factored so the connected-components oracle
# can reuse the identical pair derivation as a CTE prefix.
_MINHASH_PAIRS_CTES = """sh AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         substr(text, CAST(i AS INT), 5) AS s
  FROM documents, unnest(generate_series(1, length(text) - 4)) t(i)
  WHERE length(text) >= 5
),
mins AS (
  SELECT doc_id,
         min(md5('0' || s)) AS h0, min(md5('1' || s)) AS h1,
         min(md5('2' || s)) AS h2, min(md5('3' || s)) AS h3,
         min(md5('4' || s)) AS h4, min(md5('5' || s)) AS h5,
         min(md5('6' || s)) AS h6, min(md5('7' || s)) AS h7
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band_idx, md5(h0 || h1) AS band_hash FROM mins
  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM mins
  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM mins
  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM mins
),
keep AS (
  SELECT band_idx, band_hash FROM bands
  GROUP BY band_idx, band_hash HAVING count(*) <= 64
),
b2 AS (
  SELECT bands.* FROM bands JOIN keep USING (band_idx, band_hash)
)"""

_MINHASH_PAIRS_SELECT = """SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
FROM b2 a JOIN b2 b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
WHERE a.doc_id < b.doc_id"""


def _hexbyte(h: str, i: int) -> str:
    """DuckDB SQL: i-th byte (0-based) of hex digest string ``h``."""
    p = "strpos('0123456789abcdef', {c}) - 1"
    hi = p.format(c=f"{h}[{2 * i + 1}]")
    lo = p.format(c=f"{h}[{2 * i + 2}]")
    return f"(({hi}) * 16 + ({lo}))"


_DUCK_WORDHASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({col}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 4294967296)"
)


def _simhash_oracle(bits: int = 32) -> str:
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    wh = _DUCK_WORDHASH.format(col="w")
    return f"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
),
h AS (
  SELECT doc_id, {wh} AS h FROM w WHERE w != ''
),
s AS (
  SELECT doc_id, {sums}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM s
"""


def _lang_id_oracle() -> str:
    langs = sorted(textops.LANG_PROFILES)
    hits = ",\n         ".join(
        "CAST(sum(CASE WHEN w IN ({}) THEN 1 ELSE 0 END) AS BIGINT) AS {}_hits".format(
            ", ".join(f"'{s}'" for s in textops.LANG_PROFILES[lang]), lang
        )
        for lang in langs
    )
    picks = []
    for lang in langs:
        cond = " AND ".join(
            f"{lang}_hits > {o}_hits" if o < lang else f"{lang}_hits >= {o}_hits"
            for o in langs
            if o != lang
        )
        picks.append(f"WHEN {cond} THEN '{lang}'")
    total = " + ".join(f"{lang}_hits" for lang in langs)
    return f"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
),
a AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         {hits}
  FROM w WHERE w != '' GROUP BY doc_id
)
SELECT doc_id, n_words, {", ".join(f"{lang}_hits" for lang in langs)},
       CAST(en_hits * 1000000 // n_words AS BIGINT) AS en_ratio_e6,
       CAST(CASE WHEN en_hits * 1000000 // n_words >= 30000 THEN 1 ELSE 0 END AS INT)
         AS is_english,
       CASE WHEN {total} = 0 THEN 'und' {" ".join(picks)} END AS lang
FROM a
"""


def _codec_size_model_sql(keys: str, nullable: bool = False) -> str:
    """DuckDB CTE chain re-deriving runs + the exact codec-size model over a
    ``seq({keys}, ord, tok)`` relation, keyed by ``keys`` (comma-separated).
    Final relation ``result`` has ({keys}, n_values, n_runs, codec_id,
    enc_bytes) — the ONE SQL re-implementation of rlv/blocks.py codec_sizes,
    shared by the `codec_selection`, `codec_mix`, `table_encode_files`,
    `table_encode_nullable` and `table_encode_temporal` oracles (internal
    CTEs are m_-prefixed so callers' own CTEs never collide).  PLAIN is
    priced at the engine's width rule (8 bytes when the group's min/max
    leave int32, else 4 — rlv/blocks.py codec_sizes), so epoch-microsecond
    and other wide planes price exactly; zigzags are sign-correct for
    negative values.

    With ``nullable=True``, ``seq.tok`` may be NULL: stats and codec sizes
    run over the VALID rows only, ``result`` gains ``n_nulls``, ``n_values``
    counts ALL rows, and blocks with NULLs price the NULLW wrapper
    (rlv.blocks.nullable_overhead: 1 + uvarint(n_rows) + uvarint(n_valid) +
    ceil(n_rows/8)) on top of the chosen inner size.  Every checked key must
    have >= 1 valid row (the engine's all-NULL block path is pytest-covered
    instead)."""
    src = "m_seqv" if nullable else "seq"
    prelude = (
        f"""
m_tot AS (
  SELECT {keys}, CAST(count(*) AS BIGINT) AS n_tot,
         CAST(count(tok) AS BIGINT) AS n_val
  FROM seq GROUP BY {keys}
),
m_seqv AS (SELECT * FROM seq WHERE tok IS NOT NULL),"""
        if nullable
        else ""
    )
    if nullable:
        wrap = (
            "CASE WHEN t.n_val < t.n_tot THEN "
            "1 + (length(printf('%b', t.n_tot)) + 6) // 7 "
            "+ CASE WHEN t.n_val = 0 THEN 1 "
            "       ELSE (length(printf('%b', t.n_val)) + 6) // 7 END "
            "+ (t.n_tot + 7) // 8 ELSE 0 END"
        )
        result_cte = f"""
m_res0 AS (
  SELECT m_sz.*, t.n_tot, t.n_val, {wrap} AS m_wrap
  FROM m_sz JOIN m_tot t USING ({keys})
),
result AS (
  SELECT {keys}, CAST(n_tot AS BIGINT) AS n_values,
    CAST(n_tot - n_val AS BIGINT) AS n_nulls, n_runs,
    CAST(CASE
      WHEN s_plain <= least(s_rle, s_bitpack, s_for, s_dict, s_delta) THEN 1
      WHEN s_rle <= least(s_bitpack, s_for, s_dict, s_delta) THEN 2
      WHEN s_bitpack <= least(s_for, s_dict, s_delta) THEN 3
      WHEN s_for <= least(s_dict, s_delta) THEN 4
      WHEN s_dict <= s_delta THEN 5
      ELSE 8 END AS INT) AS codec_id,
    CAST(least(s_plain, s_rle, s_bitpack, s_for, s_dict, s_delta) + m_wrap
      AS BIGINT) AS enc_bytes
  FROM m_res0
)"""
    else:
        result_cte = f"""
result AS (
  SELECT {keys}, CAST(n AS BIGINT) AS n_values, n_runs,
    CAST(CASE
      WHEN s_plain <= least(s_rle, s_bitpack, s_for, s_dict, s_delta) THEN 1
      WHEN s_rle <= least(s_bitpack, s_for, s_dict, s_delta) THEN 2
      WHEN s_bitpack <= least(s_for, s_dict, s_delta) THEN 3
      WHEN s_for <= least(s_dict, s_delta) THEN 4
      WHEN s_dict <= s_delta THEN 5
      ELSE 8 END AS INT) AS codec_id,
    CAST(least(s_plain, s_rle, s_bitpack, s_for, s_dict, s_delta) AS BIGINT)
      AS enc_bytes
  FROM m_sz
)"""
    return f"""{prelude}
m_flagged AS (
  SELECT {keys}, ord, tok,
         CASE WHEN tok IS DISTINCT FROM
                   lag(tok) OVER (PARTITION BY {keys} ORDER BY ord)
              THEN 1 ELSE 0 END AS f
  FROM {src}
),
m_grp AS (
  SELECT {keys}, ord, tok,
         sum(f) OVER (PARTITION BY {keys} ORDER BY ord) AS g
  FROM m_flagged
),
m_runs AS (
  SELECT {keys}, g, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM m_grp GROUP BY {keys}, g, tok
),
m_doc_runs AS (
  SELECT {keys}, CAST(count(*) AS BIGINT) AS n_runs, max(cnt) AS max_count
  FROM m_runs GROUP BY {keys}
),
m_doc_stats AS (
  SELECT {keys}, CAST(count(*) AS BIGINT) AS n, min(tok) AS minv,
         max(tok) AS maxv, CAST(count(DISTINCT tok) AS BIGINT) AS ndv,
         arg_min(tok, ord) AS first
  FROM {src} GROUP BY {keys}
),
m_deltas AS (
  SELECT {keys}, tok - lag(tok) OVER (PARTITION BY {keys} ORDER BY ord) AS d
  FROM {src}
),
m_dstats AS (
  SELECT {keys},
         COALESCE(max(CASE WHEN d >= 0 THEN 2 * d ELSE -2 * d - 1 END), 0)
           AS maxzz
  FROM m_deltas GROUP BY {keys}
),
m_s AS (
  SELECT d.*, r.n_runs, r.max_count, z.maxzz
  FROM m_doc_stats d
  JOIN m_doc_runs r USING ({keys})
  JOIN m_dstats z USING ({keys})
),
m_bits AS (
  SELECT *,
    CASE WHEN maxv - minv = 0 THEN 0 ELSE length(printf('%b', maxv - minv)) END AS vbits,
    CASE WHEN max_count - 1 = 0 THEN 0 ELSE length(printf('%b', max_count - 1)) END AS cbits,
    CASE WHEN ndv - 1 = 0 THEN 0 ELSE length(printf('%b', ndv - 1)) END AS ibits,
    CASE WHEN maxv = 0 THEN 0 ELSE length(printf('%b', maxv)) END AS pbits,
    CASE WHEN maxzz = 0 THEN 0 ELSE length(printf('%b', maxzz)) END AS dlbits,
    CASE WHEN minv >= 0 THEN 2 * minv ELSE -2 * minv - 1 END AS zzmin,
    CASE WHEN first >= 0 THEN 2 * first ELSE -2 * first - 1 END AS zzfirst
  FROM m_s
),
m_lens AS (
  SELECT *,
    (length(printf('%b', n)) + 6) // 7 AS ul_n,
    (length(printf('%b', n_runs)) + 6) // 7 AS ul_r,
    CASE WHEN zzmin = 0 THEN 1 ELSE (length(printf('%b', zzmin)) + 6) // 7 END AS ul_zz,
    CASE WHEN zzfirst = 0 THEN 1 ELSE (length(printf('%b', zzfirst)) + 6) // 7 END AS ul_zf,
    (length(printf('%b', ndv)) + 6) // 7 AS ul_ndv
  FROM m_bits
),
m_sz AS (
  SELECT {keys}, n, n_runs,
    1 + ul_n + 1
      + (CASE WHEN maxv > 2147483647 OR minv < -2147483648
              THEN 8 ELSE 4 END) * n AS s_plain,
    1 + ul_r + ul_zz + 2
      + CASE WHEN cbits = 0 THEN 0 ELSE (n_runs * cbits + 7) // 8 END
      + CASE WHEN vbits = 0 THEN 0 ELSE (n_runs * vbits + 7) // 8 END AS s_rle,
    CASE WHEN minv >= 0 THEN
      1 + ul_n + 1
        + CASE WHEN pbits = 0 THEN 0 ELSE (n * pbits + 7) // 8 END
      ELSE 4611686018427387904 END AS s_bitpack,
    1 + ul_n + ul_zz + 1
      + CASE WHEN vbits = 0 THEN 0 ELSE (n * vbits + 7) // 8 END AS s_for,
    1 + ul_n + ul_ndv + ul_zz + 1
      + CASE WHEN vbits = 0 THEN 0 ELSE (ndv * vbits + 7) // 8 END
      + 1 + CASE WHEN ibits = 0 THEN 0 ELSE (n * ibits + 7) // 8 END AS s_dict,
    1 + ul_n + ul_zf + 1
      + CASE WHEN dlbits = 0 THEN 0 ELSE ((n - 1) * dlbits + 7) // 8 END AS s_delta
  FROM m_lens
),{result_cte}"""


def _table_encode_nullable_oracle() -> str:
    # Same global 2048-row blocking as table_encode_files; the string
    # column's dense codes rank the VALID values only (DuckDB orders NULLS
    # LAST, so valid ranks are unaffected by the NULL rows we mask out).
    return f"""
WITH base AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CAST((row_number() OVER (ORDER BY o_orderkey) - 1) // 2048 AS INT)
           AS block_idx
  FROM orders
),
seq AS (
  SELECT block_idx, 'o_orderkey' AS col_name,
         CAST(o_orderkey AS BIGINT) AS ord, CAST(o_orderkey AS BIGINT) AS tok
  FROM base
  UNION ALL
  SELECT block_idx, 'custkey_n', CAST(o_orderkey AS BIGINT),
         CAST(custkey_n AS BIGINT)
  FROM base
  UNION ALL
  SELECT block_idx, 'pri_n', CAST(o_orderkey AS BIGINT),
         CASE WHEN pri_n IS NULL THEN NULL
              ELSE CAST(dense_rank() OVER (PARTITION BY block_idx
                                           ORDER BY pri_n) - 1 AS BIGINT) END
  FROM base
),
{_codec_size_model_sql("block_idx, col_name", nullable=True)[1:]},
blk_sums AS (
  -- COALESCE: the engine records sum_val = 0 for an all-NULL block
  -- (exact_sum_i64 of an empty array), where SQL sum() is NULL
  SELECT block_idx, col_name,
         CAST(COALESCE(sum(tok), 0) AS BIGINT) AS sum_val
  FROM seq GROUP BY block_idx, col_name
)
SELECT r.block_idx, r.col_name, n_values, n_nulls, n_runs, codec_id,
       enc_bytes, s.sum_val
FROM result r
JOIN blk_sums s
  ON r.block_idx = s.block_idx AND r.col_name = s.col_name
"""


def _table_encode_files_oracle() -> str:
    # PLAIN width in the size model is 4 bytes when every value fits int32
    # (all four sequences here do).
    return f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
         CAST((row_number() OVER (ORDER BY o_orderkey) - 1) // 2048 AS INT)
           AS block_idx
  FROM orders
),
seq AS (
  SELECT block_idx, 'o_orderkey' AS col_name,
         CAST(o_orderkey AS BIGINT) AS ord, CAST(o_orderkey AS BIGINT) AS tok
  FROM base
  UNION ALL
  SELECT block_idx, 'o_custkey', CAST(o_orderkey AS BIGINT),
         CAST(o_custkey AS BIGINT)
  FROM base
  UNION ALL
  SELECT block_idx, 'o_orderstatus', CAST(o_orderkey AS BIGINT),
         CAST(dense_rank() OVER (PARTITION BY block_idx
                                 ORDER BY o_orderstatus) - 1 AS BIGINT)
  FROM base
  UNION ALL
  SELECT block_idx, 'o_orderpriority', CAST(o_orderkey AS BIGINT),
         CAST(dense_rank() OVER (PARTITION BY block_idx
                                 ORDER BY o_orderpriority) - 1 AS BIGINT)
  FROM base
),
{_codec_size_model_sql("block_idx, col_name")[1:]},
blk_sums AS (
  SELECT block_idx, col_name,
         CAST(COALESCE(sum(tok), 0) AS BIGINT) AS sum_val
  FROM seq GROUP BY block_idx, col_name
)
SELECT r.block_idx, r.col_name, n_values, n_runs, codec_id, enc_bytes,
       s.sum_val
FROM result r
JOIN blk_sums s
  ON r.block_idx = s.block_idx AND r.col_name = s.col_name
"""


_DUCK_QUANT_CTE = """
q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q
  FROM embeddings
),
n AS (
  SELECT vec_id, q,
         list_aggregate(list_transform(list_zip(q, q), p -> p[1] * p[2]), 'sum') AS n2
  FROM q
)
"""


def _q_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General encoded x encoded JOIN (:func:`rlv.table_files.
    join_table_files`): both sides live in our format and leave it
    through their own conjunctive pruned scans (predicates prune blocks,
    the projection is pushed to join keys + requested columns), then a
    plain Spark inner join runs on the restored relations.  Plan choices
    come from the format's metadata before a payload byte moves: the
    smaller side's exact EXPLAIN byte bill decides broadcast, and its
    distinct keys (dictionary/codec-level, metadata-cheap) push into the
    larger side's scan as an IN-list runtime filter when under the cap —
    the DPP shape without the star-join restriction.  The fact key is
    NULLABLE (SQL inner join: NULL keys never match).  The oracle is the
    plain SQL join under both WHEREs."""
    fact_out = _encode_duck(
        spark, "rlv_fjf_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS ck, "
        "CASE WHEN o_orderkey % 3 = 1 THEN NULL "
        "     ELSE o_orderkey % 1000 END AS total_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "ck", "total_n"],
    )
    dim_out = _encode_duck(
        spark, "rlv_fjd_q_",
        "SELECT c_custkey AS ck, c_nationkey AS nat "
        f"FROM read_parquet('{sf_dir}/customer.parquet') ORDER BY c_custkey",
        order_col="ck", int_cols=["ck", "nat"], num_tasks=1,
    )
    got = TF.join_table_files(
        spark, fact_out, dim_out, on="ck",
        preds_a=[("between", "total_n", 0, 500)],
        preds_b=[("between", "nat", 0, 11)],
        columns_a=["o_orderkey", "total_n"],
        columns_b=["nat"],
    )
    return got.select(
        F.col("ck").cast("bigint").alias("ck"),
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("total_n").cast("bigint").alias("total_n"),
        F.col("nat").cast("bigint").alias("nat"),
    )


def _q_or_of_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-AND pushdown (``("or", [..., ("and", [leaf, ...]), ...])``
    under :func:`rlv.table_files.scan_table_files_where`): an OR branch
    may itself be a conjunction — the branch classifies as the MIN over
    its conjuncts (pruned if any conjunct prunes, full only if all do)
    and masks rows as the AND of their masks, while the OR node still
    unions branches and the file intersects across top-level predicates.
    With r4's AND-of-OR this closes every one-alternation WHERE clause.
    The oracle is the plain SQL ``(a AND b) OR c`` under a top-level
    conjunct."""
    out = _encode_duck(
        spark, "rlv_ooa_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n, "
        "CASE WHEN o_orderkey % 6 = 2 THEN NULL "
        "     ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') "
        "END AS tag_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n"], str_cols=["pri_n", "tag_n"],
    )
    got = TF.scan_table_files_where(
        spark, out,
        [("or", [("and", [("between", "custkey_n", 100, 600),
                          ("prefix", "tag_n", "grp0")]),
                 ("eq", "pri_n", "5-LOW")]),
         ("notnull", "custkey_n")],
        columns=["o_orderkey", "custkey_n", "pri_n", "tag_n"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("custkey_n").cast("bigint").alias("custkey_n"),
        "pri_n", "tag_n",
    )


def _q_dict_contains_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-contains + LIKE-suffix pushdown (``("contains", col, s)`` /
    ``("suffix", col, s)`` under :func:`rlv.table_files.
    scan_table_files_where`): the LIKE family beyond prefixes — each
    predicate evaluates vectorized over the block's dictionary sidecar
    (Arrow ``match_substring`` / ``ends_with`` over the sorted-distinct
    entries), blocks whose dictionary holds no match prune without
    payload IO, survivors match per-block rank sets.  SQL
    ``tag LIKE '%p0%' AND tag LIKE '%5'`` under binary semantics; NULL
    never matches."""
    out = _encode_duck(
        spark, "rlv_dcs_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS opt_custkey, "
        "CASE WHEN o_orderkey % 6 = 2 THEN NULL "
        "     ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') "
        "END AS tag_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "opt_custkey"], str_cols=["tag_n"],
    )
    got = TF.scan_table_files_where(
        spark, out,
        [("contains", "tag_n", "p0"), ("suffix", "tag_n", "5")],
        columns=["o_orderkey", "tag_n", "opt_custkey"],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "tag_n",
        F.col("opt_custkey").cast("bigint").alias("opt_custkey"),
    )


def _q_str_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String ORDER BY pushdown (:func:`rlv.table_files.topk_table_files`
    on a dictionary column): the threshold pass reads SIDECARS ONLY —
    each block's dictionary is its sorted-distinct valid values, so the
    k-th extreme distinct value across fully-matching blocks bounds the
    k-th extreme row with zero payload IO — and the final pass is the
    membership-pruned scan under that one-sided string bound.  Heavy
    ties (5 distinct priorities over hundreds of matching rows) with the
    order column projected, so the selected row SET is deterministic
    (``ORDER BY pri_n, o_orderkey LIMIT k``); NULLs excluded as in SQL
    ORDER BY ... LIMIT under a NOT NULL filter."""
    out = _encode_duck(
        spark, "rlv_stk_q_",
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS custkey_n, "
        "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END "
        "  AS pri_n "
        f"FROM read_parquet('{sf_dir}/orders.parquet') ORDER BY o_orderkey",
        order_col="o_orderkey",
        int_cols=["o_orderkey", "custkey_n"], str_cols=["pri_n"],
    )
    got = TF.topk_table_files(
        spark, out, "pri_n", 400, ascending=True,
        columns=["o_orderkey", "pri_n"],
        preds=[("between", "custkey_n", 100, 900)],
    )
    return got.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "pri_n",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER IS LOAD-BEARING: the contract's correctness run oracle-checks
    # the FIRST 50 entries only.  Positions 1-34 are the r4 surfaces that
    # sat past the r4 cutoff (never checked there), 35-38 the r5 additions,
    # 39-41 the three queries whose Decimal outputs hash-failed in r4 (now
    # BIGINT), 42-50 one representative per remaining family — except 47,
    # compacted_group_agg, which has no r5 row and whose GROUP BY path was
    # rewritten since (one block pipeline, typed Arrow restore).  Entries
    # past 50 all have green rows from r3/r4 and stay in the local 86-query
    # parity sweep (tests/test_entry_contract.py).
    return {
        # -- 1-34: r4 surfaces past the r4 driver cutoff --
        "count_pushdown": _q_count_pushdown,
        "minmax_pushdown": _q_minmax_pushdown,
        "table_encode_temporal": _q_table_encode_temporal,
        "ts_range_scan": _q_ts_range_scan,
        "float_pred_scan": _q_float_pred_scan,
        "ts_group_rollup": _q_ts_group_rollup,
        "dec_sum_pushdown": _q_dec_sum_pushdown,
        "dec_group_rollup": _q_dec_group_rollup,
        "str_minmax_pushdown": _q_str_minmax_pushdown,
        "idx_point_lookup": _q_idx_point_lookup,
        "where_group_agg": _q_where_group_agg,
        "ctas_roundtrip": _q_ctas_roundtrip,
        "where_topk": _q_where_topk,
        "where_distinct": _q_where_distinct,
        "int_in_scan": _q_int_in_scan,
        "null_pred_scan": _q_null_pred_scan,
        "neg_pred_agg": _q_neg_pred_agg,
        "or_pushdown": _q_or_pushdown,
        "ndv_pushdown": _q_ndv_pushdown,
        "multi_group_agg": _q_multi_group_agg,
        "enc_join": _q_enc_join,
        "multi_agg": _q_multi_agg,
        "table_stats": _q_table_stats,
        "topk_pushdown": _q_topk_pushdown,
        "doc_length_stats": _q_doc_length_stats,
        "token_heavy_hitters": _q_token_heavy_hitters,
        "event_window_rollup": _q_event_window_rollup,
        "event_sessionize": _q_event_sessionize,
        "neardup_clusters": _q_neardup_clusters,
        "stratified_sample": _q_stratified_sample,
        "bigram_heavy_hitters": _q_bigram_heavy_hitters,
        "event_asof_join": _q_event_asof_join,
        "sequence_pack": _q_sequence_pack,
        "codec_mix": _q_codec_mix,
        # -- 35-38: r5 surfaces --
        "fact_join": _q_fact_join,
        "or_of_and": _q_or_of_and,
        "dict_contains_scan": _q_dict_contains_scan,
        "str_topk": _q_str_topk,
        # -- 39-41: r4 Decimal hash-fails, outputs now BIGINT --
        "table_encode_files": _q_table_encode_files,
        "table_encode_nullable": _q_table_encode_nullable,
        "where_aggregate": _q_where_aggregate,
        # -- 42-50: one representative per remaining family --
        "count_runs": _q_count_runs,
        "roundtrip_verify": _q_roundtrip_verify,
        "codec_selection": _q_codec_selection,
        "chunked_encode": _q_chunked_encode,
        "string_codec_verify": _q_string_codec_verify,
        "compacted_group_agg": _q_compacted_group_agg,
        "dedup_exact": _q_dedup_exact,
        "minhash_bands": _q_minhash_bands,
        "zonemap_scan": _q_zonemap_scan,
        # -- past the driver cutoff: r3/r4 driver-green facets --
        "run_decompose": _q_run_decompose,
        "maxrun_byte": _q_maxrun_byte,
        "maxrun_normalize": _q_maxrun_normalize,
        "compression_summary": _q_compression_summary,
        "run_length_histogram": _q_run_length_histogram,
        "string_codec_shared": _q_string_codec_shared,
        "ann_topk": _q_ann_topk,
        "ann_lsh_buckets": _q_ann_lsh_buckets,
        "text_quality": _q_text_quality,
        "doc_fingerprint": _q_doc_fingerprint,
        "simhash": _q_simhash,
        "simhash_neardup_pairs": _q_simhash_neardup_pairs,
        "simhash_bucket_stats": _q_simhash_bucket_stats,
        "ngram_jaccard": _q_ngram_jaccard,
        "lang_id": _q_lang_id,
        "embedding_neardup": _q_embedding_neardup,
        "embedding_neardup_bucketed": _q_embedding_neardup_bucketed,
        "ann_ivf_cells": _q_ann_ivf_cells,
        "ann_ivf_cells_trained": _q_ann_ivf_cells_trained,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "multimodal_features": _q_multimodal_features,
        "frame_sample": _q_frame_sample,
        "stream_chunked_runs": _q_stream_chunked_runs,
        "minhash_neardup_pairs": _q_minhash_neardup_pairs,
        "zonemap_scan_project": _q_zonemap_scan_project,
        "pushdown_aggregate": _q_pushdown_aggregate,
        "group_agg_pushdown": _q_group_agg_pushdown,
        "dict_filter_scan": _q_dict_filter_scan,
        "dict_distinct": _q_dict_distinct,
        "int_distinct": _q_int_distinct,
        "dict_in_scan": _q_dict_in_scan,
        "dict_range_scan": _q_dict_range_scan,
        "dict_prefix_scan": _q_dict_prefix_scan,
        "where_pushdown": _q_where_pushdown,
        "dpp_semijoin": _q_dpp_semijoin,
        "clustered_scan": _q_clustered_scan,
    }


def oracle_sql() -> dict[str, str]:
    out = {
        "count_runs": f"""
WITH {_TOKS_CTE}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs
FROM runs GROUP BY doc_id
""",
        "run_decompose": f"""
WITH {_TOKS_CTE}
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_pos) - 1 AS INT)
         AS run_idx,
       cnt AS run_count,
       CAST(tok AS INT) AS run_value
FROM runs
""",
        "maxrun_byte": f"""
WITH {_TOKS_CTE},
pieces AS (
  SELECT doc_id, start_pos, tok, cnt,
         unnest(generate_series(1, CAST(ceil(cnt / 255.0) AS INT))) AS k
  FROM runs
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_pos, k) - 1 AS INT)
         AS run_idx,
       CAST(CASE WHEN k * 255 <= cnt THEN 255 ELSE cnt - (k - 1) * 255 END AS BIGINT)
         AS run_count,
       CAST(tok AS INT) AS run_value
FROM pieces
""",
        "compression_summary": f"""
WITH {_TOKS_CTE},
per_doc AS (
  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS runs, CAST(sum(cnt) AS BIGINT) AS toks
  FROM runs GROUP BY doc_id, source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS n_tokens,
       CAST(sum(runs) AS BIGINT) AS n_runs,
       CAST(sum(runs) * 16 AS BIGINT) AS naive_rle_bytes
FROM per_doc GROUP BY source
""",
        # Full SQL re-implementation of the exact codec-size model
        # (rlv/blocks.py codec_sizes): bit lengths via printf('%b'), uvarint
        # lengths, byte-padded bit-packing, argmin with lowest-id tie-break.
        "codec_selection": f"""
WITH {_TOKS_CTE},
seq AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS ord, CAST(tok AS BIGINT) AS tok
  FROM tok2
),
{_codec_size_model_sql("doc_id")[1:]}
SELECT doc_id, codec_id, enc_bytes FROM result
""",
        "run_length_histogram": f"""
WITH {_TOKS_CTE}
SELECT source,
       CAST(length(printf('%b', cnt)) - 1 AS INT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS n_runs
FROM runs
GROUP BY source, len_bucket
""",
        "chunked_encode": f"""
WITH {_TOKS_CTE},
doc_runs AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs, max(cnt) AS max_count,
         min(tok) AS minv, max(tok) AS maxv, CAST(sum(cnt) AS BIGINT) AS n_tok
  FROM runs GROUP BY doc_id
),
bits AS (
  SELECT *,
    CASE WHEN maxv - minv = 0 THEN 0 ELSE length(printf('%b', maxv - minv)) END AS vbits,
    CASE WHEN max_count - 1 = 0 THEN 0 ELSE length(printf('%b', max_count - 1)) END AS cbits,
    2 * minv AS zzmin
  FROM doc_runs
),
lens AS (
  SELECT *,
    (length(printf('%b', n_runs)) + 6) // 7 AS ul_r,
    CASE WHEN zzmin = 0 THEN 1 ELSE (length(printf('%b', zzmin)) + 6) // 7 END AS ul_zz
  FROM bits
)
SELECT doc_id, n_tok, n_runs,
  CAST(1 + ul_r + ul_zz + 2
       + CASE WHEN cbits = 0 THEN 0 ELSE (n_runs * cbits + 7) // 8 END
       + CASE WHEN vbits = 0 THEN 0 ELSE (n_runs * vbits + 7) // 8 END
    AS BIGINT) AS enc_bytes
FROM lens
""",
        "roundtrip_verify": """
SELECT source, CAST(count(*) AS BIGINT) AS n_verified
FROM documents GROUP BY source
""",
        "string_codec_verify": """
SELECT source, CAST(count(*) AS BIGINT) AS n_verified
FROM documents GROUP BY source
""",
        "string_codec_shared": """
SELECT source, CAST(count(*) AS BIGINT) AS n_verified
FROM documents GROUP BY source
""",
        "dedup_exact": """
SELECT md5(text) AS text_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(CAST(doc_id AS VARCHAR)) AS keeper
FROM documents GROUP BY md5(text)
""",
        "minhash_bands": """
WITH sh AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         substr(text, CAST(i AS INT), 5) AS s
  FROM documents, unnest(generate_series(1, length(text) - 4)) t(i)
  WHERE length(text) >= 5
),
mins AS (
  SELECT doc_id,
         min(md5('0' || s)) AS h0, min(md5('1' || s)) AS h1,
         min(md5('2' || s)) AS h2, min(md5('3' || s)) AS h3,
         min(md5('4' || s)) AS h4, min(md5('5' || s)) AS h5,
         min(md5('6' || s)) AS h6, min(md5('7' || s)) AS h7
  FROM sh GROUP BY doc_id
)
SELECT doc_id, CAST(band_idx AS INT) AS band_idx, band_hash FROM (
  SELECT doc_id, 0 AS band_idx, md5(h0 || h1) AS band_hash FROM mins
  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM mins
  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM mins
  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM mins
)
""",
        "ann_topk": """
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT vec_id, qv,
         list_aggregate(list_transform(list_zip(qv, qv),
                        p -> p[1] * p[2]), 'sum') AS n2
  FROM q
),
pairs AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         list_aggregate(list_transform(list_zip(a.qv, b.qv),
                        p -> p[1] * p[2]), 'sum')
           / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cos
  FROM n a, n b
  WHERE b.vec_id < 10 AND a.vec_id != b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM pairs
)
SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id
FROM ranked WHERE rk <= 5
""",
        "ann_lsh_buckets": _ann_lsh_oracle(),
        "doc_fingerprint": f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       {_DUCK_WORDHASH.format(col="text")} AS fp
FROM documents
""",
        "simhash": _simhash_oracle(),
        "simhash_neardup_pairs": f"""
WITH sh AS ({_simhash_oracle()}),
banded AS (
  SELECT doc_id, simhash, j AS band_idx, (simhash >> (8 * j)) & 255 AS band_val
  FROM sh, (VALUES (0), (1), (2), (3)) t(j)
),
keep AS (
  SELECT band_idx, band_val FROM banded
  GROUP BY band_idx, band_val HAVING count(*) <= 64
),
b2 AS (
  SELECT banded.* FROM banded JOIN keep USING (band_idx, band_val)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM b2 a
  JOIN b2 b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
""",
        "simhash_bucket_stats": f"""
WITH sh AS ({_simhash_oracle()}),
banded AS (
  SELECT doc_id, j AS band_idx, (simhash >> (8 * j)) & 255 AS band_val
  FROM sh, (VALUES (0), (1), (2), (3)) t(j)
)
SELECT CAST(band_idx AS INT) AS band_idx,
       CAST(band_val AS BIGINT) AS band_val,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(CASE WHEN count(*) > 64 THEN 1 ELSE 0 END AS INT) AS dropped
FROM banded GROUP BY band_idx, band_val
""",
        "ngram_jaccard": """
WITH ws AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE len(string_split(text, ' ')) >= 3
),
tg0 AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
  FROM ws, unnest(generate_series(1, len(ws) - 2)) t(i)
),
stop AS (SELECT g FROM tg0 GROUP BY g HAVING count(*) > 50),
tg AS (SELECT * FROM tg0 ANTI JOIN stop USING (g)),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM tg GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, CAST(count(*) AS BIGINT) AS inter
  FROM tg a JOIN tg b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
joined AS (
  SELECT i.doc_id_a, i.doc_id_b, i.inter, sa.ng AS na, sb.ng AS nb
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.doc_id_a
  JOIN sz sb ON sb.doc_id = i.doc_id_b
)
SELECT doc_id_a, doc_id_b, inter,
       CAST(na + nb - inter AS BIGINT) AS n_union,
       CAST(inter * 1000000 // (na + nb - inter) AS BIGINT) AS jaccard_e6
FROM joined
WHERE inter * 1000000 // (na + nb - inter) >= 100000
""",
        "lang_id": _lang_id_oracle(),
        "embedding_neardup": f"""
WITH {_DUCK_QUANT_CTE}
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       CAST(floor(list_aggregate(list_transform(list_zip(a.q, b.q),
                                 p -> p[1] * p[2]), 'sum')
                  / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) * 1000000) AS BIGINT) AS cos_e6
FROM n a, n b
WHERE a.vec_id < b.vec_id
  AND floor(list_aggregate(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2]), 'sum')
            / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) * 1000000) >= 400000
""",
        "embedding_neardup_bucketed": f"""
WITH {_DUCK_QUANT_CTE},
c AS (
  SELECT vec_id AS cell, q AS cq, n2 AS cn2 FROM n WHERE vec_id < 8
),
s AS (
  SELECT n.vec_id, c.cell,
         row_number() OVER (PARTITION BY n.vec_id
                            ORDER BY list_aggregate(list_transform(list_zip(n.q, c.cq),
                                     p -> p[1] * p[2]), 'sum')
                                     / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) DESC,
                                     c.cell ASC) AS crk
  FROM n, c
),
probes AS (SELECT vec_id, cell FROM s WHERE crk <= 2),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
  FROM probes a JOIN probes b USING (cell)
  WHERE a.vec_id < b.vec_id
)
SELECT cd.vec_id_a, cd.vec_id_b,
       CAST(floor(list_aggregate(list_transform(list_zip(a.q, b.q),
                                 p -> p[1] * p[2]), 'sum')
                  / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) * 1000000) AS BIGINT) AS cos_e6
FROM cand cd
JOIN n a ON a.vec_id = cd.vec_id_a
JOIN n b ON b.vec_id = cd.vec_id_b
WHERE floor(list_aggregate(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2]), 'sum')
            / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) * 1000000) >= 400000
""",
        "ann_ivf_cells": f"""
WITH {_DUCK_QUANT_CTE},
c AS (
  SELECT vec_id AS cell, q AS cq, n2 AS cn2 FROM n WHERE vec_id < 8
),
s AS (
  SELECT n.vec_id, c.cell,
         list_aggregate(list_transform(list_zip(n.q, c.cq), p -> p[1] * p[2]), 'sum')
           / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) AS cos
  FROM n, c
),
r AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rk
  FROM s
)
SELECT vec_id, CAST(cell AS INT) AS cell FROM r WHERE rk = 1
""",
        "ann_ivf_cells_trained": _ann_ivf_cells_trained_oracle(),
        "ann_ivf_topk": f"""
WITH {_DUCK_QUANT_CTE},
c AS (
  SELECT vec_id AS cell, q AS cq, n2 AS cn2 FROM n WHERE vec_id < 8
),
s AS (
  SELECT n.vec_id, c.cell,
         list_aggregate(list_transform(list_zip(n.q, c.cq), p -> p[1] * p[2]), 'sum')
           / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) AS cos,
         row_number() OVER (PARTITION BY n.vec_id
                            ORDER BY list_aggregate(list_transform(list_zip(n.q, c.cq),
                                     p -> p[1] * p[2]), 'sum')
                                     / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) DESC,
                                     c.cell ASC) AS crk
  FROM n, c
),
cells AS (SELECT vec_id, cell FROM s WHERE crk = 1),
probes AS (SELECT vec_id AS query_id, cell FROM s WHERE crk <= 2 AND vec_id < 10),
cand AS (
  SELECT DISTINCT p.query_id, d.vec_id AS neighbor_id
  FROM probes p JOIN cells d USING (cell)
  WHERE d.vec_id != p.query_id
),
scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         list_aggregate(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2]), 'sum')
           / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cos
  FROM cand cd
  JOIN n a ON a.vec_id = cd.neighbor_id
  JOIN n b ON b.vec_id = cd.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id
FROM ranked WHERE rk <= 5
""",
        "multimodal_features": f"""
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
         sha256(text) AS h
  FROM documents
),
u AS (
  SELECT media_id, kind, n_bytes,
         {_hexbyte("h", 0)} + {_hexbyte("h", 1)} * 256
           + {_hexbyte("h", 2)} * 65536 + {_hexbyte("h", 3)} * 16777216 AS u32
  FROM m
)
SELECT media_id, kind, n_bytes,
       CAST(floor(CAST(CAST(u32 / 4294967296.0 AS REAL) AS DOUBLE)
                  * 1000000000) AS BIGINT) AS f0_e9
FROM u
""",
        "event_window_rollup": """
SELECT epoch_us(ts) // 3600000000 AS hour_bucket,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY 1, 2
""",
        "event_sessionize": """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts),
                                 event_id) AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END
              AS ns
  FROM e
),
g AS (
  SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id)
                 AS INT) AS session_idx
  FROM f
)
SELECT CAST(user_id AS BIGINT) AS user_id, session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(event_id) AS BIGINT) AS first_event_id,
       CAST(max(event_id) AS BIGINT) AS last_event_id
FROM g GROUP BY user_id, session_idx
""",
        "frame_sample": """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(ceil(octet_length(CAST(text AS BLOB)) / 1024.0) AS INT) AS n_frames,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS frame_bytes
FROM documents
""",
        "minhash_neardup_pairs": (
            f"WITH {_MINHASH_PAIRS_CTES}\n{_MINHASH_PAIRS_SELECT}"
        ),
        # true connected components via a recursive CTE — the oracle for the
        # ITERATIVE Spark propagation, checking its fixpoint, not its rounds
        "neardup_clusters": f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
pr AS ({_MINHASH_PAIRS_SELECT}),
e AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM pr
  UNION
  SELECT doc_id_b, doc_id_a FROM pr
),
ids AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id FROM documents),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM ids
  UNION
  SELECT e.a, w.label FROM walk w JOIN e ON w.node = e.b
),
lab AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node)
SELECT doc_id, cluster_id,
       CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INT)
         AS is_keeper
FROM lab
""",
        "stratified_sample": """
WITH r AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source AS stratum,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
rk AS (
  SELECT doc_id, stratum,
         row_number() OVER (PARTITION BY stratum ORDER BY h, doc_id) AS rk
  FROM r
)
SELECT doc_id, stratum, CAST(rk AS INT) AS rk FROM rk WHERE rk <= 50
""",
        # the oracle is DuckDB's NATIVE ASOF JOIN — the Spark union-window
        # composition is checked against a first-class implementation
        "event_asof_join": """
WITH ev AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         CAST(user_id AS BIGINT) AS user_id, event_type,
         epoch_us(ts) AS us, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
probe AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'click'),
build AS (
  SELECT user_id, us, max(event_id) AS b_event_id,
         arg_max(cents, event_id) AS b_cents
  FROM ev WHERE event_type = 'purchase' GROUP BY user_id, us
)
SELECT p.event_id, p.user_id, p.us AS click_us,
       CAST(COALESCE(b.b_event_id, -1) AS BIGINT) AS asof_event_id,
       CAST(COALESCE(b.b_cents, -1) AS BIGINT) AS asof_cents
FROM probe p ASOF LEFT JOIN build b
  ON p.user_id = b.user_id AND p.us >= b.us
""",
        "sequence_pack": """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         CAST(length(text) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, source, n_tok,
       CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
       CAST((cum - n_tok) % 2048 AS BIGINT) AS pack_offset
FROM c
""",
        "codec_mix": f"""
WITH {_TOKS_CTE},
seq AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS ord, CAST(tok AS BIGINT) AS tok
  FROM tok2
),
{_codec_size_model_sql("doc_id")[1:]},
src AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, source FROM documents)
SELECT s.source, r.codec_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(r.enc_bytes) AS BIGINT) AS enc_bytes,
       CAST(sum(r.n_values) AS BIGINT) AS n_tokens
FROM result r JOIN src s USING (doc_id)
GROUP BY s.source, r.codec_id
""",
        "bigram_heavy_hitters": """
WITH b AS (
  SELECT source, ascii(substr(text, CAST(i AS INT), 1)) AS t1,
         ascii(substr(text, CAST(i AS INT) + 1, 1)) AS t2
  FROM documents, unnest(generate_series(1, length(text) - 1)) s(i)
  WHERE length(text) >= 2
),
f AS (
  SELECT source, t1, t2, CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY source, t1, t2
),
r AS (
  SELECT source, t1, t2, n,
         row_number() OVER (PARTITION BY source
                            ORDER BY n DESC, t1 ASC, t2 ASC) AS rk
  FROM f
)
SELECT source, CAST(rk AS INT) AS rk, CAST(t1 AS INT) AS t1,
       CAST(t2 AS INT) AS t2, n
FROM r WHERE rk <= 8
""",
        "table_encode_files": _table_encode_files_oracle(),
        "table_encode_nullable": _table_encode_nullable_oracle(),
        "zonemap_scan": """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o_custkey AS BIGINT) AS custkey_n
FROM orders
WHERE o_orderkey % 7 != 0 AND o_custkey BETWEEN 100 AND 499
""",
        "zonemap_scan_project": """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CASE WHEN o_orderkey % 5 = 3 THEN NULL
            ELSE o_orderpriority END AS pri_s,
       CASE WHEN o_orderkey % 3 = 1 THEN NULL
            ELSE CAST(o_orderkey % 1000 AS BIGINT) END AS total_n
FROM orders
WHERE o_orderkey % 7 != 0 AND o_custkey BETWEEN 100 AND 499
""",
        "dict_filter_scan": """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       o_orderpriority AS pri_n,
       CASE WHEN o_orderkey % 7 = 0 THEN NULL
            ELSE CAST(o_custkey AS BIGINT) END AS opt_custkey
FROM orders
WHERE o_orderkey % 5 != 3 AND o_orderpriority = '1-URGENT'
""",
        "pushdown_aggregate": """
WITH v AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n
  FROM orders
)
SELECT count(*) AS n_rows,
       count(cents_n) AS n_vals,
       CAST(sum(cents_n) AS BIGINT) AS sum_val,
       CAST(min(cents_n) AS BIGINT) AS min_val,
       CAST(max(cents_n) AS BIGINT) AS max_val
FROM v WHERE custkey_n BETWEEN 100 AND 499
""",
        "group_agg_pushdown": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 5 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n
  FROM orders
)
SELECT COALESCE(pri_n, '~null~') AS grp,
       count(*) AS n_rows,
       count(cents_n) AS n_vals,
       CAST(sum(cents_n) AS BIGINT) AS sum_val,
       CAST(min(cents_n) AS BIGINT) AS min_val,
       CAST(max(cents_n) AS BIGINT) AS max_val
FROM v WHERE o_orderkey BETWEEN 3000 AND 45000
GROUP BY pri_n
""",
        "compacted_group_agg": """
WITH v AS (
  SELECT o_orderkey,
         'Clerk#' || lpad(CAST(o_custkey % 1000 AS VARCHAR), 6, '0')
           AS clerk,
         CASE WHEN o_orderkey % 11 = 5 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n
  FROM orders
)
SELECT COALESCE(pri_n, '~null~') AS grp,
       count(*) AS n_rows,
       count(cents_n) AS n_vals,
       CAST(sum(cents_n) AS BIGINT) AS sum_val,
       CAST(min(cents_n) AS BIGINT) AS min_val,
       CAST(max(cents_n) AS BIGINT) AS max_val
FROM v
WHERE o_orderkey BETWEEN 3000 AND 45000
  AND clerk LIKE 'Clerk#0000%'
GROUP BY pri_n
""",
        "dict_distinct": """
SELECT DISTINCT COALESCE(
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END,
         '~null~') AS val
FROM orders
""",
        "int_distinct": """
SELECT DISTINCT CAST(COALESCE(
         CASE WHEN o_orderkey % 9 = 4 THEN NULL ELSE o_custkey % 97 END,
         -999999) AS BIGINT) AS val
FROM orders
""",
        "dict_in_scan": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, pri_n,
       CAST(opt_custkey AS BIGINT) AS opt_custkey
FROM v WHERE pri_n IN ('2-HIGH', '4-NOT SPECIFIED', '9-MISSING')
""",
        "dict_range_scan": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, pri_n,
       CAST(opt_custkey AS BIGINT) AS opt_custkey
FROM v WHERE pri_n BETWEEN '2' AND '4z'
""",
        "dict_prefix_scan": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 6 = 2 THEN NULL
              ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0')
         END AS tag_n,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, tag_n,
       CAST(opt_custkey AS BIGINT) AS opt_custkey
FROM v WHERE tag_n LIKE 'grp04%'
""",
        "where_pushdown": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 6 = 2 THEN NULL
              ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0')
         END AS tag_n
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, pri_n, tag_n,
       CAST(custkey_n AS BIGINT) AS custkey_n
FROM v
WHERE custkey_n BETWEEN 100 AND 1200
  AND pri_n IN ('1-URGENT', '3-MEDIUM')
  AND tag_n LIKE 'grp0%'
""",
        "dpp_semijoin": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey
  FROM orders
),
d AS (
  SELECT DISTINCT o_orderpriority AS pri,
         CAST(length(o_orderpriority) AS BIGINT) AS pri_len
  FROM orders WHERE o_orderpriority < '4'
)
SELECT CAST(v.o_orderkey AS BIGINT) AS o_orderkey, v.pri_n,
       CAST(v.opt_custkey AS BIGINT) AS opt_custkey, d.pri_len
FROM v JOIN d ON v.pri_n = d.pri
""",
        "minmax_pushdown": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n
  FROM orders
)
SELECT CAST(min(cents_n) AS BIGINT) AS min_val,
       CAST(max(cents_n) AS BIGINT) AS max_val
FROM v
WHERE o_orderkey BETWEEN 5000 AND 100000
  AND custkey_n IS NOT NULL
""",
        # typed-column plane: the codec-size model over epoch_us sequences
        "table_encode_temporal": f"""
WITH base AS (
  SELECT o_orderkey, epoch_us(o_orderdate) AS ts,
         CAST((row_number() OVER (ORDER BY o_orderkey) - 1) // 2048 AS INT)
           AS block_idx
  FROM orders
),
seq AS (
  SELECT block_idx, CAST(o_orderkey AS BIGINT) AS ord,
         CAST(ts AS BIGINT) AS tok
  FROM base
),
{_codec_size_model_sql("block_idx")[1:]},
blk_sums AS (
  SELECT block_idx, CAST(COALESCE(sum(tok), 0) AS BIGINT) AS sum_val
  FROM seq GROUP BY block_idx
)
SELECT r.block_idx, n_values, n_runs, codec_id, enc_bytes, s.sum_val
FROM result r JOIN blk_sums s ON r.block_idx = s.block_idx
""",
        "ts_range_scan": """
SELECT o_orderkey, epoch_us(o_orderdate) AS ts_us
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                      AND TIMESTAMP '1996-06-30 23:59:59'
""",
        "float_pred_scan": """
SELECT o_orderkey
FROM orders
WHERE o_totalprice BETWEEN 1000.0 AND 150000.25
  AND o_orderkey BETWEEN 1 AND 40000
""",
        "ts_group_rollup": """
SELECT epoch_us(o_orderdate) AS ts_us,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_key
FROM orders
WHERE o_orderkey BETWEEN 1 AND 30000
GROUP BY 1
""",
        "dec_sum_pushdown": """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(l_extendedprice) AS BIGINT) AS n_vals,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS sum_cents,
       CAST(2 AS INT) AS scale,
       CAST(min(l_extendedprice) AS DOUBLE) AS min_val,
       CAST(max(l_extendedprice) AS DOUBLE) AS max_val
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                     AND TIMESTAMP '1996-12-31 23:59:59'
""",
        "idx_point_lookup": """
SELECT o_orderkey, o_custkey
FROM orders
WHERE o_custkey IN (7, 370, 1234)
""",
        "str_minmax_pushdown": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n
  FROM orders
)
SELECT min(pri_n) AS min_val, max(pri_n) AS max_val
FROM v
WHERE o_orderkey BETWEEN 3000 AND 50000
""",
        "dec_group_rollup": """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
            AS BIGINT) AS sum_qty_cents,
       CAST(2 AS INT) AS scale,
       CAST(min(l_quantity) AS DOUBLE) AS min_qty,
       CAST(max(l_quantity) AS DOUBLE) AS max_qty
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                     AND TIMESTAMP '1998-09-02 23:59:59'
GROUP BY 1
""",
        "count_pushdown": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n
  FROM orders
)
SELECT count(*) AS n_rows
FROM v
WHERE o_orderkey BETWEEN 2000 AND 90000
  AND pri_n LIKE '1-%'
  AND custkey_n IS NOT NULL
""",
        "where_aggregate": """
WITH v AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n
  FROM orders
)
SELECT count(*) AS n_rows,
       count(cents_n) AS n_vals,
       CAST(sum(cents_n) AS BIGINT) AS sum_val,
       CAST(min(cents_n) AS BIGINT) AS min_val,
       CAST(max(cents_n) AS BIGINT) AS max_val
FROM v
WHERE custkey_n BETWEEN 100 AND 900
  AND pri_n IN ('2-HIGH', '5-LOW')
""",
        "int_in_scan": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              ELSE o_custkey % 250 END AS code_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(code_n AS BIGINT) AS code_n, pri_n
FROM v
WHERE code_n IN (7, 41, 88, 199, 998)
  AND pri_n IN ('2-HIGH', '3-MEDIUM')
""",
        "null_pred_scan": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 6 = 2 THEN NULL
              ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0')
         END AS tag_n
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(custkey_n AS BIGINT) AS custkey_n, pri_n, tag_n
FROM v
WHERE custkey_n IS NULL
  AND pri_n <> '1-URGENT'
""",
        "multi_agg": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n
  FROM orders
),
m AS (
  SELECT * FROM v
  WHERE o_orderkey BETWEEN 50 AND 12000
    AND pri_n IN ('2-HIGH', '4-NOT SPECIFIED')
)
SELECT 'cents_n' AS val_col, count(*) AS n_rows,
       count(cents_n) AS n_vals,
       CAST(sum(cents_n) AS BIGINT) AS sum_val,
       CAST(min(cents_n) AS BIGINT) AS min_val,
       CAST(max(cents_n) AS BIGINT) AS max_val
FROM m
UNION ALL
SELECT 'opt_custkey' AS val_col, count(*) AS n_rows,
       count(opt_custkey) AS n_vals,
       CAST(sum(opt_custkey) AS BIGINT) AS sum_val,
       CAST(min(opt_custkey) AS BIGINT) AS min_val,
       CAST(max(opt_custkey) AS BIGINT) AS max_val
FROM m
""",
        "enc_join": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n
  FROM orders
),
d AS (
  SELECT DISTINCT o_orderpriority AS pri,
         CAST(length(o_orderpriority) AS BIGINT) AS pri_len
  FROM orders
),
df AS (SELECT * FROM d WHERE pri_len BETWEEN 5 AND 8)
SELECT CAST(v.o_orderkey AS BIGINT) AS o_orderkey, v.pri_n,
       CAST(v.opt_custkey AS BIGINT) AS opt_custkey,
       CAST(df.pri_len AS BIGINT) AS pri_len
FROM v JOIN df ON v.pri_n = df.pri
""",
        "multi_group_agg": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 11 = 6 THEN NULL
              ELSE o_custkey % 4 END AS bucket_n
  FROM orders
)
SELECT COALESCE(pri_n, '~null~') AS pri_n,
       CAST(COALESCE(bucket_n, -1) AS BIGINT) AS bucket_n,
       count(*) AS n_rows,
       count(opt_custkey) AS n_vals,
       CAST(sum(opt_custkey) AS BIGINT) AS sum_val,
       CAST(min(opt_custkey) AS BIGINT) AS min_val,
       CAST(max(opt_custkey) AS BIGINT) AS max_val
FROM v
WHERE o_orderkey BETWEEN 100 AND 13000
GROUP BY pri_n, bucket_n
""",
        "ndv_pushdown": """
WITH v AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey,
         CASE WHEN o_orderkey % 6 = 2 THEN NULL
              ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0')
         END AS tag_n
  FROM orders
)
SELECT CAST(count(DISTINCT tag_n) AS BIGINT) AS ndv,
       count(*) > count(tag_n) AS null_seen
FROM v
WHERE opt_custkey BETWEEN 100 AND 900
""",
        "or_pushdown": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 6 = 2 THEN NULL
              ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0')
         END AS tag_n
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(opt_custkey AS BIGINT) AS opt_custkey, pri_n, tag_n
FROM v
WHERE (opt_custkey BETWEEN 100 AND 400
       OR pri_n = '5-LOW'
       OR tag_n IS NULL)
  AND pri_n IS NOT NULL
""",
        "neg_pred_agg": """
WITH v AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n
  FROM orders
)
SELECT count(*) AS n_rows,
       count(cents_n) AS n_vals,
       CAST(sum(cents_n) AS BIGINT) AS sum_val,
       CAST(min(cents_n) AS BIGINT) AS min_val,
       CAST(max(cents_n) AS BIGINT) AS max_val
FROM v
WHERE custkey_n NOT BETWEEN 200 AND 1100
  AND pri_n NOT IN ('1-URGENT', '2-HIGH')
  AND cents_n IS NOT NULL
""",
        "where_distinct": """
WITH v AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n
  FROM orders
)
SELECT DISTINCT COALESCE(pri_n, '~null~') AS val
FROM v WHERE custkey_n BETWEEN 100 AND 700
""",
        "where_topk": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE o_custkey % 97 END AS v_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n
  FROM orders
),
f AS (
  SELECT * FROM v
  WHERE pri_n IN ('1-URGENT', '4-NOT SPECIFIED')
    AND o_orderkey BETWEEN 1000 AND 14000 AND v_n IS NOT NULL
)
SELECT * FROM (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(v_n AS BIGINT) AS v_n, 'asc' AS direction
  FROM f ORDER BY v_n, o_orderkey LIMIT 25
)
UNION ALL
SELECT * FROM (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(v_n AS BIGINT) AS v_n, 'desc' AS direction
  FROM f ORDER BY v_n DESC, o_orderkey LIMIT 25
)
""",
        "ctas_roundtrip": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, pri_n,
       CAST(opt_custkey AS BIGINT) AS opt_custkey
FROM v WHERE pri_n IN ('1-URGENT', '3-MEDIUM')
""",
        "where_group_agg": """
WITH v AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 11 = 5 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 6 = 2 THEN NULL
              ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0')
         END AS tag_n,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE CAST(o_totalprice * 100 AS BIGINT) END AS cents_n
  FROM orders
)
SELECT COALESCE(pri_n, '~null~') AS grp,
       count(*) AS n_rows,
       count(cents_n) AS n_vals,
       CAST(sum(cents_n) AS BIGINT) AS sum_val,
       CAST(min(cents_n) AS BIGINT) AS min_val,
       CAST(max(cents_n) AS BIGINT) AS max_val
FROM v
WHERE custkey_n BETWEEN 100 AND 1200 AND tag_n LIKE 'grp0%'
GROUP BY pri_n
""",
        "clustered_scan": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 7 THEN NULL
              ELSE (o_orderkey * 37) % 1000 END AS val_n
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(val_n AS BIGINT) AS val_n
FROM v WHERE val_n BETWEEN 100 AND 299
""",
        "topk_pushdown": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE o_custkey % 97 END AS v_n
  FROM orders
)
SELECT * FROM (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(v_n AS BIGINT) AS v_n, 'asc' AS direction
  FROM v WHERE v_n IS NOT NULL ORDER BY v_n, o_orderkey LIMIT 25
)
UNION ALL
SELECT * FROM (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(v_n AS BIGINT) AS v_n, 'desc' AS direction
  FROM v WHERE v_n IS NOT NULL ORDER BY v_n DESC, o_orderkey LIMIT 25
)
""",
        "table_stats": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n
  FROM orders
)
SELECT 'o_orderkey' AS col_name,
       'int64' AS logical_type,
       count(*) AS n_rows,
       count(*) - count(o_orderkey) AS n_nulls,
       CAST(min(o_orderkey) AS BIGINT) AS min_int,
       CAST(max(o_orderkey) AS BIGINT) AS max_int,
       CAST(NULL AS BIGINT) AS ndv,
       CAST(NULL AS VARCHAR) AS min_str,
       CAST(NULL AS VARCHAR) AS max_str
FROM v
UNION ALL
SELECT 'custkey_n', 'int64', count(*), count(*) - count(custkey_n),
       CAST(min(custkey_n) AS BIGINT), CAST(max(custkey_n) AS BIGINT),
       NULL, NULL, NULL
FROM v
UNION ALL
SELECT 'pri_n', 'string', count(*), count(*) - count(pri_n),
       NULL, NULL,
       CAST(count(DISTINCT pri_n) AS BIGINT), min(pri_n), max(pri_n)
FROM v
""",
        "doc_length_stats": """
WITH d AS (
  SELECT source, CAST(length(text) AS INT) AS n_tok FROM documents
),
r AS (
  SELECT source, n_tok,
         row_number() OVER (PARTITION BY source ORDER BY n_tok) AS rn,
         count(*) OVER (PARTITION BY source) AS cnt
  FROM d
)
SELECT source,
       CAST(max(cnt) AS BIGINT) AS n_docs,
       CAST(max(CASE WHEN rn = (cnt - 1) * 50 // 100 + 1 THEN n_tok END) AS INT)
         AS p50_n_tok,
       CAST(max(CASE WHEN rn = (cnt - 1) * 90 // 100 + 1 THEN n_tok END) AS INT)
         AS p90_n_tok,
       CAST(max(CASE WHEN rn = (cnt - 1) * 99 // 100 + 1 THEN n_tok END) AS INT)
         AS p99_n_tok,
       CAST(min(n_tok) AS INT) AS min_n_tok,
       CAST(max(n_tok) AS INT) AS max_n_tok
FROM r GROUP BY source
""",
        "token_heavy_hitters": """
WITH tt AS (
  SELECT source, unnest(string_split(text, '')) AS ch FROM documents
),
t AS (SELECT source, ascii(ch) AS tok FROM tt),
f AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS n
  FROM t GROUP BY source, tok
),
r AS (
  SELECT source, tok, n,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, tok ASC) AS rk
  FROM f
)
SELECT source, CAST(rk AS INT) AS rk, CAST(tok AS INT) AS tok, n
FROM r WHERE rk <= 8
""",
        "text_quality": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(length(text) - length(replace(text, '.', '')) AS BIGINT) AS n_periods,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT)
         AS n_bpe_ish
FROM documents
""",
        "fact_join": """
WITH f AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS ck,
         CASE WHEN o_orderkey % 3 = 1 THEN NULL
              ELSE o_orderkey % 1000 END AS total_n
  FROM orders
),
d AS (SELECT c_custkey AS ck, c_nationkey AS nat FROM customer)
SELECT CAST(f.ck AS BIGINT) AS ck,
       CAST(f.o_orderkey AS BIGINT) AS o_orderkey,
       CAST(f.total_n AS BIGINT) AS total_n,
       CAST(d.nat AS BIGINT) AS nat
FROM f JOIN d ON f.ck = d.ck
WHERE f.total_n BETWEEN 0 AND 500 AND d.nat BETWEEN 0 AND 11
""",
        "or_of_and": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n,
         CASE WHEN o_orderkey % 6 = 2 THEN NULL
              ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0')
         END AS tag_n
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(custkey_n AS BIGINT) AS custkey_n, pri_n, tag_n
FROM v
WHERE ((custkey_n BETWEEN 100 AND 600 AND tag_n LIKE 'grp0%')
       OR pri_n = '5-LOW')
  AND custkey_n IS NOT NULL
""",
        "dict_contains_scan": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS opt_custkey,
         CASE WHEN o_orderkey % 6 = 2 THEN NULL
              ELSE 'grp' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0')
         END AS tag_n
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, tag_n,
       CAST(opt_custkey AS BIGINT) AS opt_custkey
FROM v
WHERE tag_n LIKE '%p0%' AND tag_n LIKE '%5'
""",
        "str_topk": """
WITH v AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
           AS custkey_n,
         CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority END
           AS pri_n
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, pri_n
FROM v
WHERE custkey_n BETWEEN 100 AND 900 AND pri_n IS NOT NULL
ORDER BY pri_n, o_orderkey LIMIT 400
""",
    }
    # normalize(maxrun(runs)) must equal the plain decomposition — same oracle
    out["maxrun_normalize"] = out["run_decompose"]
    # the streaming stateful encoder must emit the exact batch decomposition
    # (stream_eq_batch, v:4695-4715) — same oracle again
    out["stream_chunked_runs"] = out["run_decompose"]
    return out
