"""Library-level properties of rlv.textops (training-data pipeline ops).

Parity with the DuckDB oracles is covered by tests/test_entry_contract.py;
these tests cover what the contract can't: the df_cap stop-shingle guard,
value-range invariants, and determinism across plans.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rlv import textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e g"),      # shares trigrams 'a b c', 'b c d', 'c d e' with 1
        (3, "xx yy zz ww vv uu"),  # no stopword of any language profile
        (4, "a b c q r s"),      # shares only 'a b c'
        (5, "the of and the of"),
        (6, ""),                  # empty text edge
        (7, "solo"),              # < 3 words: no trigrams
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_jaccard_pairs_exact(docs):
    pairs = {
        (r.doc_id_a, r.doc_id_b): (r.inter, r.n_union, r.jaccard_e6)
        for r in textops.ngram_jaccard_pairs(docs, min_jaccard_e6=0).collect()
    }
    # docs 1,2: 4 trigrams each, 3 shared -> J = 3/5
    assert pairs[("1", "2")] == (3, 5, 600000)
    # docs 1,4: 1 shared -> J = 1/7
    assert pairs[("1", "4")] == (1, 7, 142857)
    # doc 3 shares nothing; docs 6,7 produce no trigrams at all
    assert all("3" not in p and "6" not in p and "7" not in p for p in pairs)


def test_jaccard_df_cap_drops_hot_shingles(docs):
    # 'a b c' appears in 3 docs; with df_cap=2 it is dropped, so the only
    # surviving overlap is 1-2's 'b c d'/'c d e'.
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.inter
        for r in textops.ngram_jaccard_pairs(docs, min_jaccard_e6=0, df_cap=2).collect()
    }
    assert pairs == {("1", "2"): 2}


def test_simhash_range_and_determinism(docs):
    a = {r.doc_id: r.simhash for r in textops.simhash(docs).collect()}
    b = {r.doc_id: r.simhash for r in textops.simhash(docs).collect()}
    assert a == b
    assert all(0 <= v < 2**32 for v in a.values())
    # empty doc produces no words -> no row (groupBy over empty explode)
    assert "6" not in a
    # identical word multisets -> identical simhash
    assert a["1"] != a["3"]  # different vocab, overwhelmingly different


def test_lang_id_ratios(docs):
    out = {r.doc_id: r for r in textops.lang_id(docs).collect()}
    r5 = out["5"]  # "the of and the of": all 5 words are EN stopwords
    assert (r5.n_words, r5.en_hits, r5.en_ratio_e6, r5.is_english) == (5, 5, 1000000, 1)
    assert r5.lang == "en"
    r3 = out["3"]  # no profile hits anywhere -> undetermined
    assert (r3.en_hits, r3.is_english, r3.lang) == (0, 0, "und")


def test_lang_id_argmax_and_tiebreak(spark):
    rows = [
        (1, "le la et le"),          # fr wins
        (2, "der und die es la"),    # de 3, es 1, fr 1 -> de
        (3, "de de"),                # 'de' word is in both es and fr sets: tie
        (4, "la la"),                # la in es and fr: tie -> es (alphabetical)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.lang for r in textops.lang_id(docs).collect()}
    assert out["1"] == "fr"
    assert out["2"] == "de"
    assert out["3"] == "es"  # es before fr alphabetically
    assert out["4"] == "es"


def test_doc_fingerprint_matches_python(docs):
    out = {r.doc_id: r.fp for r in textops.doc_fingerprints(docs).collect()}

    def py_fp(s: str) -> int:
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % textops.POLY_MOD
        return h

    for row in docs.collect():
        assert out[str(row.doc_id)] == py_fp(row.text)


@pytest.fixture(scope="module")
def emb(spark):
    # 6 vectors in 4-d: 0 and 3 are parallel (cos=1), 1 and 4 near-parallel,
    # 2 and 5 orthogonal to everything else's direction.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [2.0, 0.0, 0.0, 0.0]),
        (4, [0.01, 1.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_embedding_neardup_finds_parallel_pairs(emb):
    pairs = {
        (r.vec_id_a, r.vec_id_b): r.cos_e6
        for r in textops.embedding_neardup_pairs(emb, min_cos_e6=900_000).collect()
    }
    assert pairs[(0, 3)] == 1_000_000
    assert (1, 4) in pairs and pairs[(1, 4)] >= 999_000
    assert all(2 not in p and 5 not in p for p in pairs)


def test_ivf_cells_assign_to_max_cos_centroid(emb):
    cells = {r.vec_id: r.cell for r in textops.ivf_cells(emb, k=3).collect()}
    assert cells[3] == 0  # parallel to centroid 0
    assert cells[4] == 1  # near-parallel to centroid 1
    assert cells[0] == 0 and cells[1] == 1 and cells[2] == 2  # self-assignment
    # vec 5 is orthogonal to all three centroids (cos=0 ties) -> lowest id wins
    assert cells[5] == 0


@pytest.fixture(scope="module")
def degenerate_docs(spark):
    """Mass-duplicated boilerplate: 80 identical docs (the bucket-cap trigger)
    plus one genuine near-dup pair with distinct content."""
    rows = [(i, "spam spam lorem ipsum dolor sit amet boilerplate")
            for i in range(1, 81)]
    rows += [(100, "unique question about spark partitioning strategies"),
             (101, "unique question about spark partitioning strategies")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_simhash_bucket_cap_drops_degenerate_buckets(degenerate_docs):
    # uncapped: the 80 identical docs alone contribute C(80,2)=3160 pairs
    uncapped = textops.simhash_neardup_pairs(
        degenerate_docs, max_bucket=None
    ).count()
    assert uncapped >= 3160
    # capped: every bucket holding the boilerplate exceeds 64 and is dropped
    # BEFORE collect_set; the genuine pair (its own small bucket) survives
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in textops.simhash_neardup_pairs(
            degenerate_docs, max_bucket=64
        ).collect()
    }
    assert pairs == {("100", "101"): 0}


def test_simhash_bucket_stats_counts_dropped(degenerate_docs):
    stats = textops.simhash_bucket_stats(degenerate_docs, max_bucket=64).collect()
    dropped = [r for r in stats if r.dropped == 1]
    kept = [r for r in stats if r.dropped == 0]
    # the 80-doc boilerplate group fills one bucket per band (4 bands); the
    # near-dup pair may collide into one of them (80 or 82 docs)
    assert len(dropped) == 4
    assert all(r.n_docs >= 80 for r in dropped)
    # the near-dup pair's buckets (and any stragglers) stay under the cap
    assert all(r.n_docs <= 64 for r in kept)
    # no cap -> nothing dropped
    assert all(
        r.dropped == 0
        for r in textops.simhash_bucket_stats(
            degenerate_docs, max_bucket=None
        ).collect()
    )


def test_embedding_neardup_bucketed_matches_allpairs_on_shared_cells(emb):
    bucketed = {
        (r.vec_id_a, r.vec_id_b): r.cos_e6
        for r in textops.embedding_neardup_bucketed(
            emb, min_cos_e6=900_000, k_cells=3, nprobe=2
        ).collect()
    }
    allpairs = {
        (r.vec_id_a, r.vec_id_b): r.cos_e6
        for r in textops.embedding_neardup_pairs(emb, min_cos_e6=900_000).collect()
    }
    # bucketed is a subset of all-pairs with identical scores where present
    assert set(bucketed) <= set(allpairs)
    for k, v in bucketed.items():
        assert allpairs[k] == v
    # the parallel pairs share a probed cell, so the scale path finds them
    assert bucketed[(0, 3)] == 1_000_000
    assert (1, 4) in bucketed


def _assignment_quality(emb, centroids):
    """Mean best-centroid cosine over all vectors (the k-means objective)."""
    scored = textops._cell_scores_from(emb, centroids)
    best = scored.groupBy("vec_id").agg(F.max("cos").alias("m"))
    return best.agg(F.avg("m")).collect()[0][0]


def test_ivf_train_refines_centroids_deterministically(emb):
    seed = [
        [int(round(x * 1000)) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").collect()[:2]
    ]
    trained = textops.ivf_train(emb, k=2, iters=2)
    # Lloyd iterations never worsen the assignment objective
    assert _assignment_quality(emb, trained) >= _assignment_quality(emb, seed) - 1e-12
    # training is reproducible (integer floor-means, deterministic ties)
    assert textops.ivf_train(emb, k=2, iters=2) == trained
    cells = {
        r.vec_id: r.cell for r in textops.ivf_cells_trained(emb, trained).collect()
    }
    assert len(cells) == 6
    # parallel pairs still land together under the trained quantizer
    assert cells[0] == cells[3] and cells[1] == cells[4]


def test_numpy_ivf_trainer_matches_spark_trainer(spark):
    """The driver-side numpy trainer (__spark_entry__._numpy_ivf_train, the
    one that bakes the ann_ivf_cells_trained oracle literals) must reproduce
    the Spark trainer's centroids EXACTLY on the real embeddings table."""
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    spark_trained = textops.ivf_train(emb, k=8, iters=2)
    np_trained = entrymod._numpy_ivf_train(sf_dir, k=8, iters=2)
    assert np_trained == spark_trained


def test_neardup_paths_leave_no_cached_rdds(spark, docs, emb):
    """The staged near-dup paths must leave the session cache empty — a
    service batching many corpora through one session accumulates nothing
    (VERDICT r2 #8: no persisted RDDs after a contract query runs)."""
    import __spark_entry__ as entrymod

    # other tests in the shared session may legitimately hold caches; the
    # contract here is that THESE paths add none
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    textops.ngram_jaccard_pairs(docs, df_cap=50).collect()
    textops.simhash_neardup_pairs(docs, max_bucket=64).collect()
    textops.embedding_neardup_bucketed(emb).collect()
    entrymod._q_minhash_neardup_pairs(spark, "/root/testdata/sf0.001").collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before


def test_simhash_neardup_uncapped_default_superset(docs):
    """max_bucket now defaults to None (full recall): the uncapped result is
    a superset of the capped one."""
    capped = {
        (r.doc_id_a, r.doc_id_b)
        for r in textops.simhash_neardup_pairs(docs, max_bucket=2).collect()
    }
    full = {
        (r.doc_id_a, r.doc_id_b)
        for r in textops.simhash_neardup_pairs(docs).collect()
    }
    assert capped <= full


def test_cleanup_stages_removes_staged_dirs(spark, docs, monkeypatch,
                                            tmp_path):
    """A long-lived service session can reclaim the scratch disk the staged
    near-dup relations use: after the consuming action, cleanup_stages()
    removes every default-staged dir (ADVICE r3 #1)."""
    import glob
    import tempfile

    textops.cleanup_stages()  # isolate from earlier tests in the session
    # stage under this test's own directory, so another process staging
    # in the shared temp dir at the same time is not counted
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = set(glob.glob(f"{tempfile.gettempdir()}/rlv_stage_*"))
    textops.simhash_neardup_pairs(docs, max_bucket=64).collect()
    during = set(glob.glob(f"{tempfile.gettempdir()}/rlv_stage_*"))
    assert len(during - before) >= 1  # the op staged something
    removed = textops.cleanup_stages()
    assert removed >= 1
    after = set(glob.glob(f"{tempfile.gettempdir()}/rlv_stage_*"))
    assert after - before == set()


def test_simhash_uncapped_warns(docs):
    """The uncapped bucket self-join makes its O(bucket^2) cost visible
    (ADVICE r3 #3)."""
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        textops.simhash_neardup_pairs(docs)
        assert any("UNCAPPED" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        textops.simhash_neardup_pairs(docs, max_bucket=64)
        assert not any("UNCAPPED" in str(x.message) for x in w)


def test_neardup_components_chain_converges_to_fixpoint(spark):
    """A 6-node chain (diameter 5) forces multiple propagation rounds: every
    node must still end with the component-min label — the fixpoint, not a
    fixed round count.  Singletons cluster as themselves."""
    docs = spark.createDataFrame(
        [(f"d{i}",) for i in range(8)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [(f"d{i}", f"d{i+1}") for i in range(5)],  # d0-...-d5 chain
        "doc_id_a string, doc_id_b string",
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in textops.neardup_components(docs, pairs).collect()
    }
    for i in range(6):
        assert out[f"d{i}"] == ("d0", 1 if i == 0 else 0)
    assert out["d6"] == ("d6", 1) and out["d7"] == ("d7", 1)


def test_stratified_sample_deterministic_and_bounded(spark):
    docs = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(60)], "doc_id long, source string"
    )
    a = textops.stratified_sample(docs, per_stratum=5).collect()
    b = textops.stratified_sample(docs, per_stratum=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    from collections import Counter

    per = Counter(r["stratum"] for r in a)
    assert all(v <= 5 for v in per.values())
    assert all(1 <= r["rk"] <= 5 for r in a)
