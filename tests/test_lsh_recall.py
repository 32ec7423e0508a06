"""Measured LSH recall on NONEMPTY ground truth.

Round-1 verdict: the LSH scale paths' recall claims were analytical
only (at sf0.01 the raw embeddings table has zero cos>=0.95 pairs, so
exact and LSH both returned empty — a vacuous pass). These gates plant
~100 true near-dup pairs (md5-derived noise, the same construction the
oracled `embedding_near_dups_planted` query uses) and assert the
approximate operators actually recover the exact twins' output.
"""

from __future__ import annotations

import pytest

from cdf_spark.operators.similarity import cosine_topk, embedding_near_dup_pairs, rhp_lsh_topk
from cdf_spark.queries import planted_near_dup_corpus

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return planted_near_dup_corpus(emb).persist()


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_embedding_near_dup_lsh_recall(planted):
    """The LSH prefilter path recovers >=95% of the exact verifier's
    pairs (similarity.py's analytical claim, now measured)."""
    exact = _pairs(
        embedding_near_dup_pairs(planted, threshold=0.95, id_col="vec_id", vec_col="e")
    )
    assert len(exact) >= 20, "ground truth must be nonempty for this gate to mean anything"
    lsh = _pairs(
        embedding_near_dup_pairs(
            planted, threshold=0.95, id_col="vec_id", vec_col="e", method="lsh"
        )
    )
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.3f} < 0.95 over {len(exact)} true pairs"
    # no false positives: every surviving pair was exactly re-scored
    assert lsh <= exact


def test_rhp_lsh_topk_recall(planted):
    """ANN top-k recovers >=90% of the exact top-k (query,neighbor)
    pairs under the bench configuration (bits=32, band_bits=2)."""
    queries = planted.filter("vec_id < 20")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(planted, queries, k=10, vec_col="e").collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in rhp_lsh_topk(
            planted, queries, k=10, vec_col="e", bits=32, band_bits=2
        ).collect()
    }
    assert len(exact) == 200
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.90, f"ANN recall {recall:.3f} < 0.90"


def test_planted_twins_are_found_by_construction(planted):
    """Sanity on the fixture itself: each planted twin pairs with its
    original above the threshold (the noise scale guarantees it)."""
    exact = _pairs(
        embedding_near_dup_pairs(planted, threshold=0.95, id_col="vec_id", vec_col="e")
    )
    n_twins = planted.filter("vec_id >= 100000").count()
    planted_pairs = {(a, b) for (a, b) in exact if b == a + 100000}
    assert len(planted_pairs) >= 0.9 * n_twins


def test_ivf_ann_topk_recall(spark):
    """IVF with deterministic sampled centroids (modulus 50, nprobe 8)
    recovers a measured fraction of the exact top-k on REAL sf0.01
    embeddings — the floor is what the bench configuration delivers,
    asserted so a regression in assignment/probe logic trips it."""
    from cdf_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=10).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_ann_topk(emb, queries, k=10, nprobe=8, centroid_modulus=50).collect()
    }
    assert len(exact) == 200
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.85, f"IVF recall {recall:.3f} fell below the measured floor"


def test_ivf_kmeans_refined_recall(spark):
    """Lloyd-refined centroids (1 iteration, 1-in-3 training sample)
    measured against both the exact top-k and the unrefined IVF: the
    refinement must not cost recall, and its measured floor is
    asserted so a regression in the k-means step trips it."""
    from cdf_spark.operators.similarity import ivf_ann_topk, ivf_kmeans_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=10).collect()
    }
    plain = {
        (r.query_id, r.neighbor_id)
        for r in ivf_ann_topk(emb, queries, k=10, nprobe=8, centroid_modulus=50).collect()
    }
    refined = {
        (r.query_id, r.neighbor_id)
        for r in ivf_kmeans_topk(
            emb, queries, k=10, nprobe=8, centroid_modulus=50, sample_modulus=3, iters=1
        ).collect()
    }
    r_plain = len(plain & exact) / len(exact)
    r_refined = len(refined & exact) / len(exact)
    print(f"ivf recall plain={r_plain:.3f} refined={r_refined:.3f}")
    assert r_refined >= 0.85, f"refined IVF recall {r_refined:.3f} below floor"
    assert r_refined >= r_plain - 0.05, (
        f"refinement degraded recall: {r_refined:.3f} vs plain {r_plain:.3f}"
    )


def test_ivf_ann_fast_matches_hof_path(spark):
    """The GEMM fast twin must return EXACTLY the oracled HOF path's
    rows (same probes, same rounded sims, same tiebreaks) — it is the
    deploy configuration the bench times, so parity is the license for
    substituting it."""
    from cdf_spark.operators.similarity import ivf_ann_topk, ivf_ann_topk_fast

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    kw = dict(k=10, nprobe=8, centroid_modulus=50)
    slow = {tuple(r) for r in ivf_ann_topk(emb, queries, **kw).collect()}
    fast = {tuple(r) for r in ivf_ann_topk_fast(emb, queries, **kw).collect()}
    assert len(slow) == 200
    assert fast == slow


def test_rhp_lsh_fast_matches_hof_path(spark):
    """The banded-LSH GEMM twin must return exactly the oracled HOF
    path's rows — it is the deploy configuration the bench times."""
    from cdf_spark.operators.similarity import rhp_lsh_topk, rhp_lsh_topk_fast

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    kw = dict(k=10, bits=16, band_bits=4)
    slow = {tuple(r) for r in rhp_lsh_topk(emb, queries, **kw).collect()}
    fast = {tuple(r) for r in rhp_lsh_topk_fast(emb, queries, **kw).collect()}
    assert len(slow) == 200
    assert fast == slow


def test_pq_ann_topk_recall(spark):
    """PQ (m=8 subspaces, deterministic sampled codebooks, 3k
    shortlist + exact re-score) recovers a measured fraction of the
    exact top-k on REAL sf0.01 embeddings."""
    from cdf_spark.operators.similarity import pq_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=10).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in pq_ann_topk(emb, queries, k=10, m=8, cb_modulus=10, shortlist=10).collect()
    }
    assert len(exact) == 200
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.85, f"PQ recall {recall:.3f} fell below the measured floor"


def test_pq_ann_fast_matches_hof_path(spark):
    """The ADC fast twin must return EXACTLY the oracled path's rows
    (rounded encode argmin, rounded asim shortlist, id tie-breaks) —
    it is the deploy configuration the bench times, so parity is the
    license for substituting it."""
    from cdf_spark.operators.similarity import pq_ann_topk, pq_ann_topk_fast

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    kw = dict(k=10, m=8, cb_modulus=10, shortlist=10)
    slow = {tuple(r) for r in pq_ann_topk(emb, queries, **kw).collect()}
    fast = {tuple(r) for r in pq_ann_topk_fast(emb, queries, **kw).collect()}
    assert len(slow) == 200
    assert fast == slow


def test_pq_rejects_indivisible_dim(spark):
    from cdf_spark.operators.similarity import pq_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError):
        pq_ann_topk(emb, emb.limit(1), m=7)


def test_minhash_index_incremental_matches_self_join(spark, tmp_path):
    """Index-backed incremental probe == the self-join operator's
    pairs restricted to (corpus, batch), on the same corpus with the
    same hashing — the index changes the ECONOMICS (no corpus
    self-join), never the answer. Also exercises add(): half the
    corpus arrives through the incremental ingest path."""
    from cdf_spark.operators.dedup_approx import MinHashLSHIndex, minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter("doc_id % 5 != 0")
    batch = docs.filter("doc_id % 5 = 0")

    idx = MinHashLSHIndex(tmp_path / "idx")
    idx.build(corpus.filter("doc_id % 2 = 1"))
    idx.add(corpus.filter("doc_id % 2 = 0"))
    got = {
        (r.id_batch, r.id_corpus, r.jaccard)
        for r in idx.query(spark, batch, threshold=0.6, bucket_cap=None).collect()
    }

    want = {
        (r.id_a, r.id_b, r.jaccard) if r.id_a % 5 == 0 else (r.id_b, r.id_a, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.6, bucket_cap=None).collect()
        if (r.id_a % 5 == 0) != (r.id_b % 5 == 0)
    }
    assert got == want and len(got) > 0


def test_minhash_index_bucket_cap_and_meta_enforced(spark, tmp_path):
    from cdf_spark.operators.dedup_approx import MinHashLSHIndex

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = MinHashLSHIndex(tmp_path / "idx")
    meta = idx.build(docs.filter("doc_id % 2 = 1"), n=5, k=16, bands=4, hash_fn="md5")
    assert meta == {"n": 5, "k": 16, "bands": 4, "hash_fn": "md5"}
    # probes re-read meta: the stored hash_fn/banding is what hashes
    # the batch (a mismatched probe would never collide)
    batch = docs.filter("doc_id % 2 = 0")
    uncapped = {
        (r.id_batch, r.id_corpus)
        for r in idx.query(spark, batch, threshold=0.5, bucket_cap=None).collect()
    }
    capped = {
        (r.id_batch, r.id_corpus)
        for r in idx.query(spark, batch, threshold=0.5, bucket_cap=1).collect()
    }
    # the cap drops HOT index buckets (recall-bounding, never adds
    # false positives): capped results are a subset of uncapped
    assert capped <= uncapped and len(uncapped) > 0
    # impossible threshold -> exact verification kills every candidate
    assert idx.query(spark, batch, threshold=1.01, bucket_cap=None).count() == 0


def test_ivf_pq_ann_topk_recall_and_exact_sims(spark):
    """IVF-PQ composite: recall vs exact top-k on real sf0.01
    embeddings at the deploy configuration, AND every reported sim is
    the EXACT cosine (approximation shortlists, exact rescore reports)
    — so a PQ quantization bug can only lower recall, never corrupt a
    similarity."""
    from cdf_spark.operators.similarity import cosine_topk_fast, ivf_pq_ann_topk_fast

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    exact_rows = cosine_topk_fast(emb, queries, k=10).collect()
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    exact_sim = {(r.query_id, r.neighbor_id): r.sim for r in exact_rows}
    got = ivf_pq_ann_topk_fast(
        emb, queries, k=10, nprobe=8, centroid_modulus=50, m=8, cb_modulus=25,
        shortlist=20,
    ).collect()
    hits = {(r.query_id, r.neighbor_id) for r in got} & exact
    recall = len(hits) / len(exact)
    assert recall >= 0.8, f"IVF-PQ recall {recall:.3f} fell below the floor"
    for r in got:
        key = (r.query_id, r.neighbor_id)
        if key in exact_sim:
            assert abs(r.sim - exact_sim[key]) < 1e-9, f"sim not exact at {key}"


def test_ivf_pq_partition_independent(spark):
    """The r11 distributive shortlist makes IVF-PQ's output invariant
    to the corpus partitioning: each Arrow batch emits its local ADC
    top-nshort and a global window cuts the union, so 1 partition and
    13 partitions must produce IDENTICAL rows (this invariance is what
    licenses the exact SQL oracle in the registry)."""
    from cdf_spark.operators.similarity import ivf_pq_ann_topk_fast

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    kw = dict(k=10, nprobe=8, centroid_modulus=50, m=8, cb_modulus=25, shortlist=20)
    one = sorted(
        map(tuple, ivf_pq_ann_topk_fast(emb.coalesce(1), queries, **kw).collect())
    )
    many = sorted(
        map(tuple, ivf_pq_ann_topk_fast(emb.repartition(13), queries, **kw).collect())
    )
    assert one == many and len(one) == 200


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (r12)


def test_sq8_codes_roundtrip_bound_and_range(spark):
    """Symmetric int8 quantization invariants: codes in [-127, 127],
    the max-|x| component hits ±127 exactly, and dequantization error
    is bounded by s/2 per component."""
    import numpy as np

    from cdf_spark.operators.similarity import sq8_codes

    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    rows = emb.select("vec_id", "embedding", sq8_codes(F.col("embedding")).alias("q")).collect()
    assert rows
    for r in rows:
        x = np.asarray(r["embedding"], dtype=np.float64)
        q = np.asarray(r["q"], dtype=np.int64)
        s = np.abs(x).max() / 127.0
        assert q.min() >= -127 and q.max() <= 127
        assert np.abs(q).max() == 127
        assert np.abs(x - q * s).max() <= s / 2 + 1e-12


def test_ivf_sq8_exhaustive_shortlist_equals_plain_ivf(spark):
    """With a shortlist covering every candidate, the SQ8 stage is a
    pure reordering before an exact rescore — the composite must be
    bit-identical to plain IVF with the same routing."""
    from cdf_spark.operators.similarity import ivf_ann_topk, ivf_sq8_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 10")
    plain = sorted(map(tuple, ivf_ann_topk(
        emb, queries, k=10, nprobe=8, centroid_modulus=50).collect()))
    sq8 = sorted(map(tuple, ivf_sq8_ann_topk(
        emb, queries, k=10, nprobe=8, centroid_modulus=50, shortlist=10**6).collect()))
    assert sq8 == plain and len(sq8) > 0


def test_ivf_sq8_recall_vs_exact(spark):
    """The deploy configuration (shortlist=4) keeps measured recall
    against the exact top-k — int8 coarse scores rarely reorder past
    the 4k shortlist cut."""
    from cdf_spark.operators.similarity import ivf_ann_topk, ivf_sq8_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_ann_topk(emb, queries, k=10, nprobe=8, centroid_modulus=50).collect()
    }
    sq8 = {
        (r.query_id, r.neighbor_id)
        for r in ivf_sq8_ann_topk(
            emb, queries, k=10, nprobe=8, centroid_modulus=50, shortlist=4
        ).collect()
    }
    overlap = len(sq8 & ivf) / len(ivf)
    assert overlap >= 0.95, f"SQ8 shortlist lost too much vs plain IVF: {overlap:.3f}"


def test_pin_cents_gate_is_value_neutral_and_cuts_scans(spark):
    """The IVF pin: the twice-consumed centroid sample (assignment
    + probe ranking) re-reads the whole embedding column per consumer —
    the modulo filter cannot prune parquet. Above the size gate the
    sample is eagerly checkpointed; this asserts (a) the default gate
    leaves small inputs unpinned, (b) a forced gate halves the corpus
    scans in the final plan, and (c) pinned output is value-identical."""
    from cdf_spark.operators.similarity import ivf_ann_topk
    from cdf_spark.plans.checkpoint import PIN_GATE_CONF

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 5")

    def plan_scans(df) -> int:
        df.write.mode("overwrite").format("noop").save()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return plan.count("Scan parquet")

    gate_key = PIN_GATE_CONF
    old = spark.conf.get(gate_key, None)
    try:
        spark.conf.set(gate_key, str(1 << 61))  # never pin
        off = ivf_ann_topk(emb, queries, k=10, nprobe=4, centroid_modulus=50)
        off_scans = plan_scans(off)
        off_rows = sorted(map(tuple, off.collect()))

        spark.conf.set(gate_key, "1")  # always pin
        on = ivf_ann_topk(emb, queries, k=10, nprobe=4, centroid_modulus=50)
        on_scans = plan_scans(on)
        on_rows = sorted(map(tuple, on.collect()))
    finally:
        if old is None:
            spark.conf.unset(gate_key)
        else:
            spark.conf.set(gate_key, old)

    assert on_rows == off_rows
    # formatted plans print each node twice (tree + detail): 4 scans
    # unpinned (cents x2, corpus, queries) -> 2 pinned
    assert off_scans == 8 and on_scans == 4, (off_scans, on_scans)
