"""Property tests for dedup operators.

The oracle suite proves Spark↔DuckDB agreement; these prove the operators
actually FIND duplicates: injected exact copies and near-duplicates in
crafted corpora must surface with the right scores.  The tests at the end
check invariants over the test tables that the oracle hash-compare can't
express (bounds, idempotence, monotone curves).
"""

import os

import pandas as pd
import pytest

from parquet_query_spark.operators.catalog import load_all

CATALOG = load_all()

# the invariants below are stated over the sf0.01 tables (more rows than
# the default ``sf_dir``)
SF = "/root/testdata/sf0.01"

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches the "
    "birds fly south for the winter and the farmer tends his field of corn"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one token changed
FAR = (
    "completely different content about spark query engines and columnar "
    "storage formats with vectorized execution and adaptive planning stages"
)


@pytest.fixture(scope="module")
def crafted_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("crafted")
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [BASE, BASE, NEAR, FAR, FAR + " extra tail words here"],
            "lang": ["en"] * 5,
            "source": ["s"] * 5,
            "n_chars": [len(BASE), len(BASE), len(NEAR), len(FAR), len(FAR) + 22],
        }
    )
    docs.to_parquet(os.path.join(str(d), "documents.parquet"), index=False)
    return str(d)


def test_exact_dedup_finds_clones(spark, crafted_dir):
    rows = CATALOG["dedup_exact_groups"].fn(spark, crafted_dir).collect()
    by_keeper = {r.keeper_id: r.n_copies for r in rows}
    assert by_keeper[1] == 2  # docs 1+2 identical
    assert sum(by_keeper.values()) == 5


def test_exact_survivors_drop_clone(spark, crafted_dir):
    ids = sorted(r.doc_id for r in CATALOG["dedup_exact_survivors"].fn(spark, crafted_dir).collect())
    assert ids == [1, 3, 4, 5]  # doc 2 deduplicated away


def test_minhash_finds_near_duplicates(spark, crafted_dir):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in CATALOG["dedup_minhash_candidate_pairs"].fn(spark, crafted_dir).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact clones
    assert pairs[(1, 3)] > 0.7   # one-token perturbation
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated docs


def test_simhash_hamming_properties(spark, crafted_dir):
    rows = {r.doc_id: r.simhash for r in CATALOG["dedup_simhash"].fn(spark, crafted_dir).collect()}

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert rows[1] == rows[2]                 # identical text → identical hash
    assert hamming(rows[1], rows[3]) <= 12    # near-dup → close in Hamming space
    assert hamming(rows[1], rows[4]) >= 20    # unrelated → far


def test_simhash_buckets_find_near_duplicates(spark, crafted_dir):
    rows = {
        (r.doc_a, r.doc_b): r.hamming
        for r in CATALOG["dedup_simhash_buckets"].fn(spark, crafted_dir).collect()
    }
    assert rows[(1, 2)] == 0          # exact clones share every band
    assert (1, 4) not in rows         # unrelated docs never pair


def test_connected_components_chain_converges_logarithmically(spark):
    """Pointer halving must collapse a 64-node path graph in O(log n)
    rounds (plain min-label propagation needs 63).  The rounds are read
    through Spark: one ``_min_label_components`` call runs 3·rounds + 1
    SQL executions (6 rounds → 19 and 8 → 25 on paths, also on a star,
    two paths and a random graph), so ≤ 25 executions is ≤ 8 rounds."""
    import parquet_query_spark.operators.dedup as D

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a INT, doc_b INT"
    )
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()  # the store lags the executions it counts
    before = store.executionsCount()
    components = D._components_output(pairs)  # runs the loop; the rest is lazy
    bus.waitUntilEmpty()
    executions = store.executionsCount() - before
    out = components.collect()
    assert {r.component_id for r in out} == {0}
    assert all(r.component_size == 64 for r in out)
    assert executions <= 25, f"took {executions} SQL executions"


def test_fingerprint_normalization(spark, crafted_dir):
    df = CATALOG["text_fingerprint"].fn(spark, crafted_dir)
    rows = {r.doc_id: (r.norm_fingerprint, r.raw_fingerprint) for r in df.collect()}
    assert rows[1] == rows[2]
    assert rows[1][0] != rows[3][0]


def test_simhash_python_matches_duckdb_oracle_on_random_text():
    """The mapInPandas worker and the SQL oracle must agree bit-for-bit on
    arbitrary token streams, not just the driver corpus (property check of
    the shared md5-bit signature definition, including the empty-doc and
    tie->0 rules)."""
    import duckdb
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from parquet_query_spark.operators.dedup import (
        _DUCKDB_SIMHASH_SIG_CTES,
        _simhash_batches,
    )

    token = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=8
    )
    doc = st.lists(token, min_size=0, max_size=30).map(" ".join)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=8))
    def check(texts):
        pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        py = next(_simhash_batches(iter([pdf])))
        con = duckdb.connect()
        con.register("documents", pdf)
        sql = (
            "WITH " + _DUCKDB_SIMHASH_SIG_CTES
            + " SELECT doc_id, simhash FROM sigs ORDER BY doc_id"
        )
        want = dict(con.execute(sql).fetchall())
        con.close()
        got = dict(zip(py["doc_id"], py["simhash"]))
        assert got == want

    check()


@pytest.fixture(scope="module")
def hot_band_dir(tmp_path_factory):
    """30 near-identical docs (one hot LSH band bucket: same boilerplate,
    distinct trailing token from a 3-value set, so shingle sets overlap
    ~fully and all pairs pass verification) + 4 normal docs."""
    d = tmp_path_factory.mktemp("hotband")
    texts, ids = [], []
    for i in range(30):
        texts.append(BASE + f" hotdup tail token v{i % 3}")
        ids.append(100 + i)
    texts += [FAR, FAR + " extra tail words here", NEAR, BASE]
    ids += [1, 2, 3, 4]
    docs = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * len(ids),
            "source": ["s"] * len(ids),
            "n_chars": [len(t) for t in texts],
        }
    )
    docs.to_parquet(os.path.join(str(d), "documents.parquet"), index=False)
    return str(d)


def test_band_join_tiling_preserves_pairs(spark, hot_band_dir, monkeypatch):
    """r10 skew hardening: the chunk-tiled band self-join must emit the
    EXACT same pair set as the plain join — every pair in exactly one
    (ca ≤ cb) chunk tile.  chunk_c=7 forces the 30-doc hot bucket through
    ⌈30/7⌉ = 5 chunks → 15 tiles, exercising same-chunk and cross-chunk
    tiles plus the multi-band dropDuplicates."""
    from parquet_query_spark.operators import dedup as dd

    fn = CATALOG["dedup_minhash_candidate_pairs"].fn
    baseline = {(r.doc_a, r.doc_b): r.jaccard for r in fn(spark, hot_band_dir).collect()}
    monkeypatch.setattr(dd, "_BAND_CHUNK_C", 7)
    tiled = {(r.doc_a, r.doc_b): r.jaccard for r in fn(spark, hot_band_dir).collect()}
    assert tiled == baseline
    # the hot clique must actually be present (30 copies ≈ 435 pairs)
    hot_pairs = [p for p in tiled if p[0] >= 100 and p[1] >= 100]
    assert len(hot_pairs) == 30 * 29 // 2


def test_band_join_tiling_containment_and_pipeline_agree(spark, hot_band_dir, monkeypatch):
    """The containment, cluster-pipeline and rarest-token fuzzy-join
    operators share the tiled kernel; forced multi-chunk tiling must not
    change their output.  The 30 hot copies also form one rarest-token
    block, so the fuzzy join at chunk 7 runs its hot branch."""
    from parquet_query_spark.operators import dedup as dd

    for name, chunk_knob in [
        ("dedup_minhash_containment", "_BAND_CHUNK_C"),
        ("dedup_cluster_pipeline", "_BAND_CHUNK_C"),
        ("fuzzy_join_rarest_token", "_FUZZY_CHUNK_C"),
    ]:
        fn = CATALOG[name].fn
        base = sorted(map(tuple, fn(spark, hot_band_dir).collect()))
        monkeypatch.setattr(dd, chunk_knob, 7)
        tiled = sorted(map(tuple, fn(spark, hot_band_dir).collect()))
        monkeypatch.undo()
        assert tiled == base, name
    # the fuzzy join (the last input) pairs all 30 copies of its hot block
    hot_pairs = [r for r in tiled if r[0] >= 100 and r[1] >= 100]
    assert len(hot_pairs) == 30 * 29 // 2


def test_containment_dominates_jaccard(catalog, spark, sf_dir):
    for r in catalog["dedup_minhash_containment"].fn(spark, sf_dir).collect():
        assert r["cont_a_in_b"] >= r["jaccard"] - 1e-9
        assert r["cont_b_in_a"] >= r["jaccard"] - 1e-9
        assert r["relation"] in ("near_dup", "containment", "overlap")


def test_incremental_minhash_equals_full_recompute(catalog, spark):
    inc = (
        catalog["incremental_minhash_update"]
        .fn(spark, SF)
        .drop("provenance")
        .collect()
    )
    full = catalog["dedup_minhash_signatures"].fn(spark, SF).collect()
    assert sorted(tuple(r) for r in inc) == sorted(tuple(r) for r in full)


def test_band_tuning_scurve_monotone(catalog, spark):
    rows = catalog["dedup_band_tuning_table"].fn(spark, SF).collect()
    assert len(rows) == 35  # 7 factorizations × 5 similarity levels
    # p_candidate rises with jaccard for a fixed layout
    from collections import defaultdict

    by_layout = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.bands, r.jaccard)):
        by_layout[(r.bands, r.rows_per_band)].append(r.p_candidate)
    for ps in by_layout.values():
        assert ps == sorted(ps)
