"""Semantic invariants of the text-analysis operators (text.py, and the
contamination audit in dedup.py with its streaming gate): bounds and
internal consistency the oracle hash-compare can't express.  Value-level
DuckDB parity is covered by tests/test_oracle_parity.py."""

import math

# these invariants are stated over the sf0.01 tables (more rows than the
# default ``sf_dir``)
SF = "/root/testdata/sf0.01"


def test_zipf_slope_negative(catalog, spark, sf_dir):
    rows = catalog["text_zipf_slope"].fn(spark, sf_dir).collect()
    assert len(rows) == 1
    assert rows[0]["zipf_slope"] < 0  # frequency decreases with rank


def test_boilerplate_prefix_thresholds(catalog, spark, sf_dir):
    for r in catalog["text_boilerplate_prefixes"].fn(spark, sf_dir).collect():
        assert r["n_docs"] >= 3
        assert 1 <= r["n_sources"] <= r["n_docs"]


def test_readability_banding_consistent(catalog, spark, sf_dir):
    for r in catalog["text_readability_score"].fn(spark, sf_dir).collect():
        band = "easy" if r["flesch"] >= 60 else ("medium" if r["flesch"] >= 30 else "hard")
        assert r["band"] == band


def test_language_confusion_diagonal_semantics(catalog, spark, sf_dir):
    for r in catalog["text_language_confusion"].fn(spark, sf_dir).collect():
        if r["labeled_lang"] == r["predicted_lang"]:
            assert r["n_agree"] == r["n_docs"]
        else:
            assert r["n_agree"] == 0


def test_trigram_entropy_bounds(catalog, spark):
    rows = catalog["text_char_trigram_entropy"].fn(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        # +5e-5: the op rounds to 4dp, which can tip a perfectly uniform
        # doc (entropy == ln n_distinct) just past the bound
        assert 0.0 <= r.trigram_entropy_nats <= math.log(max(r.n_distinct, 1)) + 5e-5


def test_contamination_rate_consistent(catalog, spark):
    rows = catalog["text_contamination_hit_rate"].fn(spark, SF).collect()
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_docs
        assert r.hit_rate_bp == r.n_contaminated * 10000 // r.n_docs


def test_streaming_decontaminate_agrees_with_batch_audit(catalog, spark):
    gate = {
        r.source: r
        for r in catalog["streaming_ingest_decontaminate"].fn(spark, SF).collect()
    }
    audit = {
        r.source: r
        for r in catalog["text_contamination_hit_rate"].fn(spark, SF).collect()
    }
    assert set(gate) == set(audit)
    for src, g in gate.items():
        a = audit[src]
        assert g.n_seen == a.n_docs
        assert g.n_rejected == a.n_contaminated


def test_c4_filters_pass_rate_bounds(catalog, spark):
    rows = catalog["text_c4_quality_filters"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.pass_rate <= 1.0
        for col in ("no_terminal_punct", "too_short", "bad_word_len", "has_brace", "has_lorem"):
            assert 0 <= getattr(r, col) <= r.n_docs


def test_vocab_coverage_monotone(catalog, spark):
    rows = catalog["vocab_coverage_curve"].fn(spark, SF).collect()
    ns = [r.top_n for r in rows]
    covs = [r.coverage for r in rows]
    assert ns == sorted(ns)
    assert covs == sorted(covs)  # more vocab → more coverage
    assert all(0.0 < c <= 1.0 for c in covs)


def test_regex_sweep_counts_consistent(catalog, spark):
    rows = catalog["scalar_regex_functions"].fn(spark, SF).limit(50).collect()
    for r in rows:
        assert r.long_words <= r.n_tokens
        assert len(r.devoweled_prefix) <= 80


def test_zipf_fit_plausible(catalog, spark):
    rows = catalog["text_zipf_law_fit"].fn(spark, SF).collect()
    assert len(rows) == 20  # one per source
    for r in rows:
        assert r.n_terms <= 100
        assert 0.0 <= r.zipf_r2 <= 1.0
        # natural-ish text: positive decay exponent in a sane band
        assert 0.05 <= r.zipf_slope <= 3.0


def test_length_bands_partition_each_source(catalog, spark):
    from parquet_query_spark.operators.catalog import views

    rows = catalog["docs_length_band_profile"].fn(spark, SF).collect()
    per_source = {}
    for r in rows:
        per_source.setdefault(r["source"], []).append(r)
    docs = views(spark, SF)["documents"]
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    for source, band_rows in per_source.items():
        assert [r["band"] for r in sorted(band_rows, key=lambda r: r["band"])] == list(
            range(1, len(band_rows) + 1)
        )
        assert sum(r["n_docs"] for r in band_rows) == counts[source]
        # bands are ordered by length: min_chars non-decreasing
        ordered = sorted(band_rows, key=lambda r: r["band"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["min_chars"] <= b["min_chars"]
            assert a["max_chars"] <= b["max_chars"]


def test_burstiness_bounds(catalog, spark):
    rows = catalog["text_term_burstiness"].fn(spark, SF).collect()
    assert len(rows) == 20
    cfs = [r["cf"] for r in rows]
    assert cfs == sorted(cfs, reverse=True)
    for r in rows:
        assert r["df"] <= r["cf"]
        assert r["burstiness"] >= 1.0
        # Poisson expectation never exceeds cf and never undershoots a
        # uniform spread less than df can achieve... it CAN be below df
        # (that's burstiness < expected); just bound it by the corpus
        assert 0 < r["poisson_df"] <= r["cf"]
