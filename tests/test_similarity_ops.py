"""Property tests for similarity search: cloned vectors must be found by
both brute force and LSH; LSH results must be a subset of the exact ranking
with identical scores.  The tests at the end check invariants over the test
tables that the oracle hash-compare can't express (bounds, conservation,
monotone trade-offs), and the scan-side cell assignment on degenerate
vectors."""

import math
import os

import numpy as np
import pandas as pd
import pytest

from parquet_query_spark.operators.catalog import load_all
from parquet_query_spark.operators.similarity import (
    ann_recall_eval,
    embedding_pca_top_component,
)

CATALOG = load_all()

# the invariants below are stated over the sf0.01 tables (more rows than
# the default ``sf_dir``)
SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def vec_dir(tmp_path_factory):
    rng = np.random.default_rng(7)
    d = tmp_path_factory.mktemp("vecs")
    base = rng.standard_normal((40, 64)).astype(np.float32)
    # vec 20 is an exact clone of query vec 0; vec 21 a tiny perturbation
    base[20] = base[0]
    base[21] = base[0] + rng.standard_normal(64).astype(np.float32) * 0.01
    pd.DataFrame(
        {
            "vec_id": np.arange(40, dtype=np.int64),
            "embedding": [row.tolist() for row in base],
            "label": (np.arange(40) % 5).astype(np.int32),
        }
    ).to_parquet(os.path.join(str(d), "embeddings.parquet"), index=False)
    return str(d)


def test_bruteforce_finds_clone_first(spark, vec_dir):
    rows = CATALOG["knn_bruteforce_cosine"].fn(spark, vec_dir).collect()
    top_for_q0 = [r for r in rows if r.qid == 0 and r.rnk == 1][0]
    assert top_for_q0.neighbor_id == 20
    assert top_for_q0.cosine == 1.0
    second = [r for r in rows if r.qid == 0 and r.rnk == 2][0]
    assert second.neighbor_id == 21
    assert second.cosine > 0.99


def test_lsh_finds_clone_and_scores_match_exact(spark, vec_dir):
    lsh = CATALOG["ann_lsh_cosine"].fn(spark, vec_dir).collect()
    brute = CATALOG["knn_bruteforce_cosine"].fn(spark, vec_dir).collect()
    exact = {(r.qid, r.neighbor_id): r.cosine for r in brute}
    q0 = {r.neighbor_id: r.cosine for r in lsh if r.qid == 0}
    # the exact clone shares every hyperplane side → must be in the bucket
    assert q0.get(20) == 1.0
    # every LSH hit that brute force also ranked has the identical score
    for r in lsh:
        if (r.qid, r.neighbor_id) in exact:
            assert r.cosine == exact[(r.qid, r.neighbor_id)]


def test_neardup_pairs_symmetric_clones(spark, vec_dir):
    pairs = {(r.id_a, r.id_b): r.cosine for r in CATALOG["embedding_neardup_pairs"].fn(spark, vec_dir).collect()}
    assert pairs.get((0, 20)) == 1.0
    assert pairs.get((0, 21), 0) > 0.99
    assert all(a < b for a, b in pairs)


def test_rp_sign_matrix_matches_sql_derivation():
    # the Spark-side literal sign matrix must equal what the oracle derives
    # from md5 in SQL — recompute a sample of cells with DuckDB
    import duckdb

    from parquet_query_spark.operators.similarity import _DIM, _RP_J, _rp_signs

    signs = _rp_signs()
    assert len(signs) == _RP_J and all(len(r) == _DIM for r in signs)
    con = duckdb.connect()
    for j in (0, _RP_J - 1):
        for i in (1, 17, _DIM):
            (sql_sign,) = con.execute(
                "SELECT CASE WHEN substr(md5('rp' || CAST(? AS VARCHAR) || '_' "
                "|| CAST(? AS VARCHAR)), 1, 1) < '8' THEN 1.0 ELSE -1.0 END",
                [j, i],
            ).fetchone()
            assert signs[j][i - 1] == sql_sign, (j, i)


def test_pq_codes_within_codebook_range(spark):
    from parquet_query_spark.operators.catalog import CATALOG
    from parquet_query_spark.operators.similarity import _PQ_K, _PQ_M

    rows = CATALOG["embedding_pq_codes"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        for m in range(_PQ_M):
            assert 0 <= r[f"code_{m}"] < _PQ_K
        assert r.distortion >= 0
    # codebook members must encode to themselves with zero distortion
    self_rows = [r for r in rows if r.vec_id < _PQ_K]
    assert self_rows and all(r.distortion == 0.0 for r in self_rows)


def test_kmeans_numpy_path_matches_expression_path(spark, monkeypatch):
    """The adaptive-K regime's broadcast-numpy assignment kernel must be
    row-identical to the literal-expression fold when K is the same: force
    the switch at a corpus (sf0.01, n=200) small enough that k_eff stays
    _KM_K, and compare the full Lloyd state (cid AND rounded dist2) plus
    the end-to-end semdedup survivor set."""
    from parquet_query_spark.operators import similarity as S

    sf = "/root/testdata/sf0.01"
    expr_state = {
        r.vec_id: (r.cid, r.dist2) for r in S._km_final_assign(spark, sf).collect()
    }
    expr_surv = {r.vec_id for r in CATALOG["semdedup_prune"].fn(spark, sf).collect()}

    monkeypatch.setattr(S, "_KM_SMALL_N", 0)  # n=200 > 0 -> numpy kernel
    np_state = {
        r.vec_id: (r.cid, r.dist2) for r in S._km_final_assign(spark, sf).collect()
    }
    assert np_state == expr_state
    # k_eff = max(_KM_K, ceil(200/512)) = _KM_K — same clusters by design
    np_surv = {r.vec_id for r in CATALOG["semdedup_prune"].fn(spark, sf).collect()}
    assert np_surv == expr_surv

    # and the two-level pruned kernel (r12: K >= _KM_TWO_LEVEL_K) must be
    # row-identical too — force its gate down to the same tiny K
    monkeypatch.setattr(S, "_KM_TWO_LEVEL_K", 1)
    pruned_state = {
        r.vec_id: (r.cid, r.dist2) for r in S._km_final_assign(spark, sf).collect()
    }
    assert pruned_state == expr_state
    pruned_surv = {r.vec_id for r in CATALOG["semdedup_prune"].fn(spark, sf).collect()}
    assert pruned_surv == expr_surv


def test_two_level_assignment_matches_flat_kernel_large_k():
    """numpy-level pin at a K above the real gate: the triangle-pruned
    two-level assignment must reproduce the flat kernel's (cid, dist2)
    exactly — including round-to-6 ties broken by cid — on a clustered
    corpus (the regime where pruning actually skips cells) with exact
    duplicates planted to exercise tie-breaks."""
    from parquet_query_spark.operators import similarity as S

    rng = np.random.default_rng(12)
    K, dim, n = 1500, 16, 6000
    cmat = rng.standard_normal((K, dim))
    c2 = (cmat * cmat).sum(axis=1)
    # rows = jittered copies of random centroids + some uniform noise rows
    base = cmat[rng.integers(0, K, n)] + rng.standard_normal((n, dim)) * 0.05
    base[-200:] = rng.standard_normal((200, dim)) * 3.0
    # duplicate centroids at distinct cids force (dist2, cid) tie-breaks
    cmat[700] = cmat[100]
    cmat[1400] = cmat[100]
    c2 = (cmat * cmat).sum(axis=1)
    base[:50] = cmat[100]

    flat_j, flat_d = S._km_assign_chunk_flat(base, cmat, c2)
    sc, s2, members, radii = S._km_super_pack(cmat, c2)
    assert len(members) == int(np.ceil(np.sqrt(K)))
    pr_j, pr_d = S._km_assign_chunk_pruned(base, cmat, c2, sc, s2, members, radii)
    assert (flat_j == pr_j).all()
    assert (flat_d == pr_d).all()
    # the planted duplicates must resolve to the LOWEST cid copy
    assert (pr_j[:50] == 100).all()


def test_ann_recall_bounds_and_total_row(spark, sf_dir):
    rows = sorted(ann_recall_eval(spark, sf_dir).collect(), key=lambda r: r["qid"])
    assert rows[0]["qid"] == -1  # the overall row
    for r in rows:
        assert 0 <= r["n_hits"] <= r["n_exact"]
        assert 0 <= r["recall_bp"] <= 10000
    total = rows[0]
    assert total["n_exact"] == sum(r["n_exact"] for r in rows[1:])
    assert total["n_hits"] == sum(r["n_hits"] for r in rows[1:])


def test_pca_direction_is_max_normalized(spark, sf_dir):
    rows = embedding_pca_top_component(spark, sf_dir).collect()
    assert len(rows) == 64
    loadings = [r["loading_micro"] for r in rows]
    assert max(abs(x) for x in loadings) == 1_000_000


def test_matryoshka_retention_monotone(catalog, spark, sf_dir):
    rows = catalog["embedding_matryoshka_retention"].fn(spark, sf_dir).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append((r["prefix_dim"], r["mean_retained"]))
    for label, seq in by_label.items():
        seq.sort()
        vals = [v for _, v in seq]
        assert vals == sorted(vals), f"label {label}: retention not monotone in prefix"
        assert all(0 <= v <= 1.0000001 for v in vals)


def test_exact_duplicate_vectors_accounting(catalog, spark, sf_dir):
    rows = catalog["embedding_exact_duplicates"].fn(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_distinct_vectors"] + r["n_redundant"] == r["n_vectors"]
    assert r["max_copies"] >= 1


def test_norm_outliers_are_extreme(catalog, spark):
    rows = catalog["embedding_norm_outliers"].fn(spark, SF).collect()
    assert rows, "sf0.01 embeddings should contain some 2-sigma norms"
    assert all(abs(r.z) >= 2.0 for r in rows)


def test_centroid_drift_is_symmetric_bounded(catalog, spark):
    rows = catalog["embedding_label_centroid_drift"].fn(spark, SF).collect()
    labels = {r.label_a for r in rows} | {r.label_b for r in rows}
    n = len(labels)
    assert len(rows) == n * (n - 1) // 2  # every unordered pair exactly once
    assert all(-1.0 <= r.centroid_cosine <= 1.0 for r in rows)


def test_dimension_profile_consistent(catalog, spark):
    rows = catalog["embedding_dimension_profile"].fn(spark, SF).collect()
    assert len(rows) == 64
    for r in rows:
        assert r.min_x <= r.mean <= r.max_x
        assert (r.is_dead == 1) == (r.std < 0.01)


def test_nprobe_sweep_monotone_tradeoff(catalog, spark):
    rows = sorted(catalog["embedding_ivf_nprobe_sweep"].fn(spark, SF).collect(), key=lambda r: r.nprobe)
    assert [r.nprobe for r in rows] == [1, 2, 3]
    recalls = [r.recall_bp for r in rows]
    scanned = [r.scanned_bp for r in rows]
    # more probed cells → recall and scan share both non-decreasing
    assert recalls == sorted(recalls)
    assert scanned == sorted(scanned)
    assert all(0 <= r <= 10000 for r in recalls)
    assert all(0 < s <= 10000 for s in scanned)


def test_twonn_estimates_are_positive_finite(catalog, spark):
    rows = catalog["embedding_intrinsic_dim_twonn"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_points"] > 0
        # ln(d2/d1) >= 0 termwise (d2 >= d1 by rank), so the sum is too
        assert r["sum_log_ratio"] >= 0
        if r["intrinsic_dim"] is not None:
            assert r["intrinsic_dim"] > 0
            assert math.isfinite(r["intrinsic_dim"])


def test_hubness_conserves_vectors_and_hits(catalog, spark):
    from parquet_query_spark.operators.catalog import views

    rows = catalog["embedding_hubness_kocc"].fn(spark, SF).collect()
    n_vecs = views(spark, SF)["embeddings"].count()
    assert sum(r["n_vectors"] for r in rows) == n_vecs
    for r in rows:
        assert 0 <= r["n_antihubs"] <= r["n_vectors"]
        assert r["avg_kocc"] >= 0
        assert r["max_kocc"] >= r["avg_kocc"]
    # total k-occurrences = 5 slots per sampled query
    total_hits = sum(round(r["avg_kocc"] * r["n_vectors"]) for r in rows)
    n_queries = (
        views(spark, SF)["embeddings"].where("vec_id % 10 = 0").count()
    )
    assert total_hits == 5 * n_queries


def test_silhouette_bounds_and_membership(catalog, spark):
    from parquet_query_spark.operators.catalog import views

    rows = catalog["embedding_kmeans_silhouette"].fn(spark, SF).collect()
    assert rows
    n_vecs = views(spark, SF)["embeddings"].count()
    assert sum(r["n_members"] for r in rows) == n_vecs
    for r in rows:
        assert -1.0 <= r["worst_silhouette"] <= r["mean_silhouette"] <= 1.0


def test_silhouette_clusters_match_kmeans(catalog, spark):
    km = catalog["kmeans_embeddings"].fn(spark, SF).collect()
    sizes = {}
    for r in km:
        sizes[r["cluster"]] = sizes.get(r["cluster"], 0) + 1
    sil = catalog["embedding_kmeans_silhouette"].fn(spark, SF).collect()
    assert {r["cluster"]: r["n_members"] for r in sil} == sizes


def test_assign_cells_degenerate_centroid_loses(spark):
    """A zero-norm centroid yields NULL cosine; it must NOT win the argmax
    (the pre-r12-window semantics: desc sim NULLS LAST made it lose)."""
    from parquet_query_spark.operators.similarity import _assign_cells_scanside

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, ev array<double>"
    )
    cents = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]  # cid 0 degenerate
    got = {
        r.vec_id: r.c_label
        for r in _assign_cells_scanside(emb, cents).select("vec_id", "c_label").collect()
    }
    assert got == {1: 1, 2: 2}  # never cid 0


def test_zero_norm_document_assigns_lowest_label(spark):
    """ADVICE r13, adjudicated: a zero-norm DOCUMENT has undefined cosine
    against every centroid, so the assignment degenerates to the lowest
    label — the same output the replaced window form (sim DESC NULLS
    LAST, label) produced for an all-NULL sim column.  Non-degenerate
    documents keep nulls-lose vs degenerate centroids."""
    from parquet_query_spark.operators.similarity import _assign_cells_scanside

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, ev array<double>"
    )
    cents = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]  # cid 0 degenerate
    got = {
        r.vec_id: r.c_label
        for r in _assign_cells_scanside(emb, cents).select("vec_id", "c_label").collect()
    }
    # doc 1 is degenerate: every centroid ties, lowest cid (0) wins;
    # doc 2 is normal: the degenerate centroid loses as before
    assert got == {1: 0, 2: 2}
