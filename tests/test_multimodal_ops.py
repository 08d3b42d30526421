"""Semantic invariants of the multimodal operators (multimodal.py).
Value-level DuckDB parity is covered by tests/test_oracle_parity.py."""

# these invariants are stated over the sf0.01 tables (more rows than the
# default ``sf_dir``)
SF = "/root/testdata/sf0.01"


def test_corrupt_audit_exact_rule(catalog, spark, sf_dir):
    for r in catalog["multimodal_corrupt_audit"].fn(spark, sf_dir).collect():
        assert r["n_corrupt"] + r["n_parsed"] == r["n_payloads"]
        assert 0 <= r["corrupt_bp"] <= 10000


def test_multimodal_dupes_hash_binary_not_text(catalog, spark):
    rows = catalog["multimodal_exact_dupes_by_hash"].fn(spark, SF).collect()
    assert rows, "sf0.01 should contain payload-identical documents"
    assert all(r.n_copies >= 2 for r in rows)
    assert {r.fmt for r in rows} <= {"png", "jpeg", "gif"}
