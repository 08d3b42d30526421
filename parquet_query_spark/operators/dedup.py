"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:

* **Exact** — hash-groupBy on a 128-bit fingerprint: the shuffle carries
  (16-byte key, doc_id), never the text.
* **MinHash LSH** — per-doc signature computed scan-side with *builtin*
  expressions (token shingles → md5 per seed → array_min); candidate
  generation is an equi-join on band keys (shuffle on band hash — no O(n²)
  pair expansion), then exact Jaccard verification on candidates only.
* **SimHash** — 64-bit signature via a numpy-vectorized Pandas UDF
  (Arrow-batched, one scan-side pass, zero shuffle); candidate pairs come
  from a bucketed equi-join on 16-bit signature bands with a
  ``bit_count(a ^ b)`` Hamming verify — the same slim-key LSH join shape
  as the MinHash path.

MinHash here is md5-keyed so the DuckDB oracle can reproduce it exactly —
at production scale you'd swap in xxhash64 (`F.xxhash64`) for ~4× cheaper
signatures; the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views

N_HASHES = 16
N_BANDS = 4  # 4 rows per band
# Band-join chunk size: a tile task emits at most _BAND_CHUNK_C²
# candidate pairs regardless of how hot one (band_id, band_val) bucket is
# (r10 skew rehearsal; see _lsh_candidate_pairs_with_shingles).  1024 won
# the rehearsal sweep on the 16,000-doc hot-clique corpus: max-task
# shuffle-write 128.1M records (untiled) → 32.0M (C=4096) → 15.1M
# (C=1024, max/median-busy 2.15, wall 433 s → 309 s); buckets ≤ C — all
# of them on a deduplicated corpus — pay zero tiling overhead.  Tests
# shrink it further to force multi-chunk tiling on small fixtures.
_BAND_CHUNK_C = 1024
# fuzzy_join_rarest_token's block-tiling chunk size — module-level so the
# skew rehearsal can patch it (1e9 reproduces the untiled 'before' plan),
# same knob pattern as _BAND_CHUNK_C above.
_FUZZY_CHUNK_C = 2048
# SimHash kernel: documents per numpy sub-chunk — bounds the gathered
# (occurrences × 64) bit matrix to ~10 MB per task independent of Arrow
# batch size (see _simhash_batches).
_SIMHASH_DOC_CHUNK = 1024


@query(
    "dedup_exact_groups",
    oracle="""
SELECT md5(text) AS text_hash,
       COUNT(*)  AS n_copies,
       MIN(doc_id) AS keeper_id
FROM documents
GROUP BY md5(text)
""",
    tags=("dedup", "bench"),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id."""
    v = views(spark, sf_dir)
    return (
        v["documents"]
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_id"))
    )


@query(
    "dedup_exact_survivors",
    oracle="""
SELECT doc_id, lang, source
FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) t
WHERE rn = 1
""",
    tags=("dedup",),
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving rows after exact dedup (row_number form — generalizes
    to arbitrary keep-policies: shortest URL, earliest crawl, ...)."""
    from pyspark.sql import Window as W

    v = views(spark, sf_dir)
    w = W.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (
        v["documents"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


# A document's 3-token shingles, as Spark SQL over ``toks`` (its
# whitespace split): the distinct space-joined runs of three consecutive
# tokens.  Every Spark site uses this text; _DUCKDB_SHINGLES below is the
# oracles' spelling of the same set over ``text``.
_SPARK_SHINGLES_SQL = """
array_distinct(
  transform(
    sequence(1, greatest(size(toks) - 2, 1)),
    i -> concat_ws(' ', try_element_at(toks, i),
                   try_element_at(toks, i + 1),
                   try_element_at(toks, i + 2))
  )
)
"""


def _with_shingles(df: DataFrame) -> DataFrame:
    """doc_id + 3-token shingles, builtin expressions only.

    Tokenization happens ONCE in its own projection — inlining ``split()``
    into the per-element lambda would re-split the document for every
    shingle (O(words²) work; measured 8× slower at sf0.1)."""
    return df.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    ).select("doc_id", F.expr(_SPARK_SHINGLES_SQL).alias("shingles"))


_DUCKDB_SHINGLES = """
list_distinct(
  list_transform(
    range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
    i -> concat_ws(' ',
           list_extract(string_split_regex(trim(text), '\\s+'), i),
           list_extract(string_split_regex(trim(text), '\\s+'), i + 1),
           list_extract(string_split_regex(trim(text), '\\s+'), i + 2))
  )
)
"""


# MinHash hash family: ONE md5 per shingle, split into two 56-bit halves
# (h1, h2); the k-th hash is h1 + k·(2·h2+1) — a Carter-Wegman-style pairwise
# combination.  16× cheaper than one md5 per (shingle, seed): measured 7.1s →
# ~1.5s at sf0.1.  56-bit halves keep k·h2 (k ≤ 15) inside int64.

_SPARK_H12 = """
transform(shingles, x -> named_struct(
  'h1', CAST(conv(substr(md5(x), 1, 14), 16, 10) AS BIGINT),
  'h2', CAST(conv(substr(md5(x), 17, 14), 16, 10) AS BIGINT) * 2 + 1))
"""

# The production family: two seeded xxhash64s, masked to 56 bits so
# h1 + k*(2*h2+1) stays inside int64 under ANSI arithmetic (the same range
# as the md5 halves).
_SPARK_XXH_H12 = """
transform(shingles, x -> named_struct(
  'h1', xxhash64(x) & 72057594037927935L,
  'h2', (xxhash64(x, 1) & 72057594037927935L) * 2 + 1))
"""

_DUCKDB_H12 = """
list_transform(shingles, x -> {
  'h1': CAST('0x' || substr(md5(x), 1, 14) AS BIGINT),
  'h2': CAST('0x' || substr(md5(x), 17, 14) AS BIGINT) * 2 + 1})
"""


def _minhash_cols_duckdb() -> str:
    return ",\n       ".join(
        f"list_min(list_transform(h12, s -> s.h1 + {seed} * s.h2)) AS mh_{seed}"
        for seed in range(N_HASHES)
    )


def _band_cols_duckdb() -> str:
    per_band = N_HASHES // N_BANDS
    return ",\n       ".join(
        "md5("
        + " || '|' || ".join(
            f"CAST(mh_{b * per_band + i} AS VARCHAR)" for i in range(per_band)
        )
        + f") AS band_{b}"
        for b in range(N_BANDS)
    )


def _hashed_set(col) -> F.Column:
    """array<string> → array<long> via per-element xxhash64 (r12).

    Set-cardinality arithmetic (intersect/union/size → Jaccard,
    containment) is value-identical on the hashed sets barring a 64-bit
    collision inside one pair's union (~10² elements → P ≈ 10⁻¹⁵); the
    verify joins carry ~5× fewer shuffle bytes (BASELINE.md r12).
    array_distinct keeps set semantics exact under any collision."""
    return F.array_distinct(F.transform(col, lambda x: F.xxhash64(x)))


# ── the minhash chain, one SQL text (r13) ────────────────────────────────
# Chaining 4-5 DataFrame selects re-runs full analysis over the wide
# higher-order-function tree on EVERY call — measured 0.157 s to build
# `banded` vs 0.040 s for one spark.sql() over the identical CTE chain
# (rows verified identical, including the xxhash64 band keys).  The
# text names the corpus as the `{documents}` placeholder; callers bind
# their frame with spark.sql(text, **views(spark, sf_dir)), or bind a
# filtered one as ``documents=``.  Every minhash and band value in the
# package comes from this chain.


def _sh_cte() -> str:
    """CTEs producing sh(doc_id, shingles) from the bound documents frame —
    tokenization in its own projection (same one-split-per-doc guarantee
    as _with_shingles)."""
    return f"""toksrc AS (
  SELECT doc_id, split(trim(text), '\\\\s+') AS toks FROM {{documents}}
),
sh AS (
  SELECT doc_id, {_SPARK_SHINGLES_SQL} AS shingles FROM toksrc
)"""


def _mh_cte_body(h12: str = _SPARK_H12) -> str:
    """The h → mh CTE pair over ``sh``: the ``h12`` hash-pair array per
    document, then its 16 minhashes ``mh_0``..``mh_15``."""
    mh_cols = ",\n       ".join(
        f"array_min(transform(h12, s -> s.h1 + {seed} * s.h2)) AS mh_{seed}"
        for seed in range(N_HASHES)
    )
    return f"""h AS (
  SELECT doc_id, {h12} AS h12 FROM sh
),
mh AS (
  SELECT doc_id, {mh_cols} FROM h
)"""


def _minhash_sql(select: str, h12: str = _SPARK_H12) -> str:
    """Full documents → shingles → h12 → 16 minhash chain, ending in
    ``SELECT doc_id, {select} FROM mh``."""
    return f"""
WITH {_sh_cte()},
{_mh_cte_body(h12)}
SELECT doc_id, {select} FROM mh
"""


def _band_keys_select() -> str:
    """INTERNAL int64 band keys for the candidate kernel (r12 shuffle-payload
    rewrite): xxhash64 over each band's minhash components, seeded by the
    band index so matches across different bands can never alias.  One
    8-byte long replaces the (band_id varchar, band_val 32-char md5) pair
    in the band self-join shuffle — ~5× slimmer rows on the hottest
    exchange of the dedup pass.  Two docs collide on a band key iff their
    band minhash vectors match (the LSH semantics) or xxhash64 collides
    (2^-64 per bucket pair — and any such spurious candidate still faces
    exact-Jaccard verification).  The ORACLED signature outputs
    (_band_md5_select strings) are unchanged."""
    per_band = N_HASHES // N_BANDS
    return ",\n       ".join(
        f"xxhash64({b}, "
        + ", ".join(f"mh_{b * per_band + i}" for i in range(per_band))
        + f") AS band_{b}"
        for b in range(N_BANDS)
    )


def _band_md5_select() -> str:
    """Oracled md5-string band projection: band b is the md5 of its four
    minhashes joined by '|'."""
    per_band = N_HASHES // N_BANDS
    return ",\n       ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh_{b * per_band + i}" for i in range(per_band))
        + f")) AS band_{b}"
        for b in range(N_BANDS)
    )


# The oracles' minhash chain: sh → h → mh (16 minhashes per document).
_DUCKDB_MINHASH_CTES = f"""sh AS (
  SELECT doc_id, {_DUCKDB_SHINGLES} AS shingles FROM documents
),
h AS (
  SELECT doc_id, {_DUCKDB_H12} AS h12 FROM sh
),
mh AS (
  SELECT doc_id,
       {_minhash_cols_duckdb()}
  FROM h
)"""


@query(
    "dedup_minhash_signatures",
    oracle=f"""
WITH {_DUCKDB_MINHASH_CTES}
SELECT doc_id,
       {_band_cols_duckdb()}
FROM mh
""",
    tags=("dedup", "minhash", "bench"),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash LSH band keys (16 hashes → 4 bands of 4).

    Entirely scan-side builtin expressions: shingle → md5-per-seed →
    array_min → band md5.  At 100 TB this is the map phase; only the
    (doc_id, 4×16-byte bands) tuples shuffle."""
    # one spark.sql analysis instead of four chained selects (r13 — see
    # _minhash_sql)
    return spark.sql(_minhash_sql(_band_md5_select()), **views(spark, sf_dir))


# Shared oracle CTE chain: documents → shingles → minhash → bands → LSH
# band-join candidate pairs (with both shingle sets attached for Jaccard
# verification).  Reused by the candidate-pair query and the full cluster
# pipeline below.
_DUCKDB_LSH_PAIR_CTES = f"""sh AS (
  SELECT doc_id, {_DUCKDB_SHINGLES} AS shingles FROM documents
),
h AS (
  SELECT doc_id, shingles, {_DUCKDB_H12} AS h12 FROM sh
),
mh AS (
  SELECT doc_id, shingles,
       {_minhash_cols_duckdb()}
  FROM h
),
banded AS (
  SELECT doc_id, shingles,
       {_band_cols_duckdb()}
  FROM mh
),
expl AS (
  SELECT doc_id, shingles, band_id, band_val
  FROM banded
  UNPIVOT (band_val FOR band_id IN (band_0, band_1, band_2, band_3))
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.shingles AS sh_a, b.shingles AS sh_b
  FROM expl a JOIN expl b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)"""

# The near-duplicate graph the oracles share, one CTE each: the LSH pairs
# that pass exact Jaccard >= 0.2 (``verified``), the graph's edges in both
# directions (``edges``), its closure from every node (``reach``) and each
# node's component, the least node it reaches (``comp``).
_DUCKDB_VERIFIED = f"""{_DUCKDB_LSH_PAIR_CTES},
verified AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
        / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.2
)"""


def _duckdb_edges(pairs: str, a: str, b: str) -> str:
    """The ``edges(src, dst)`` CTE: each (a, b) row of ``pairs`` in both
    directions."""
    return f"""edges AS (
  SELECT {a} AS src, {b} AS dst FROM {pairs}
  UNION ALL
  SELECT {b} AS src, {a} AS dst FROM {pairs}
)"""


_DUCKDB_NEARDUP_GRAPH = f"{_DUCKDB_VERIFIED},\n{_duckdb_edges('verified', 'doc_a', 'doc_b')}"

_DUCKDB_REACH = """reach(root, node) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT r.root, e.dst FROM reach r JOIN edges e ON r.node = e.src
)"""

_DUCKDB_COMPONENTS = f"""{_DUCKDB_NEARDUP_GRAPH},
{_DUCKDB_REACH},
comp AS (
  SELECT root AS doc_id, MIN(node) AS component_id FROM reach GROUP BY root
)"""

# (doc_id, component_id, component_size) from ``reach``
_DUCKDB_CC_SELECT = """SELECT doc_id, component_id,
       COUNT(*) OVER (PARTITION BY component_id) AS component_size
FROM (SELECT root AS doc_id, MIN(node) AS component_id FROM reach GROUP BY root)"""


@query(
    "dedup_minhash_candidate_pairs",
    oracle=f"""
WITH {_DUCKDB_LSH_PAIR_CTES}
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 4) AS jaccard
FROM pairs
WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
      / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.2
""",
    tags=("dedup", "minhash", "bench"),
)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs + exact-Jaccard verification.

    Candidates come from an equi-join on the band key — the scalable
    formulation (shuffle partitions by band hash; no cross join).  The band
    join carries only slim (doc_id, band_key int64) rows (r12: one
    xxhash64 long replaces the (band_id, md5-string) pair): document
    shingle sets do NOT transit the band-explode/shuffle (which quadruples
    row count and concentrates in hot-band partitions).  After candidate
    pairs are deduplicated, shingle sets are re-attached — hashed to
    int64 (r12) — by two doc_id-keyed joins against the one-row-per-doc
    relation; at 100 TB that shuffles each document's set at most once
    per side instead of 4×-replicated through skewed band buckets
    (plan-asserted in tests/test_plans.py: no operator carries shingles
    alongside band keys).
    Exact n-gram Jaccard then filters false positives.  Pair order
    doc_a<doc_b."""
    jac = F.col("jaccard")
    return (
        _lsh_verified_pairs(spark, sf_dir, threshold=0.2)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def _tiled_pair_ctes(
    spark: SparkSession,
    src: str,
    key: str,
    chunk_c: int,
    payload: tuple[str, ...] = (),
    pair_filter: str = "",
) -> str:
    """CTEs ``ranked`` … ``tiled``: every pair of rows of ``src(doc_id,
    <key>, *payload)`` that share ``key``, once each, as ``tiled(doc_a,
    doc_b, <p>_a, <p>_b …)`` with doc_a < doc_b — only the pairs that pass
    ``pair_filter``, a predicate over ``a.<p>`` and ``b.<p>``, when one is
    given.  The hot-key self-join shared by the LSH band join and the
    rarest-token fuzzy join.

    Chunk-tiled for HOT keys only (r10 skew rehearsal, VERDICT r9 #4).  A
    hot key — one boilerplate paragraph shared by B documents — makes the
    plain equi-join emit B²/2 pairs from ONE task: join-key skew by
    OUTPUT, invisible to AQE's input-size skew split.  Shape: ONE exchange
    hash-partitions the rows by key; two window functions attach the
    in-key doc_id rank (rn), its ``chunk_c``-sized chunk, and the key's
    max chunk.  Keys with ≤ ``chunk_c`` members — all of them, on a
    deduplicated corpus — take the plain self-join on the key: both sides
    read the SAME window output, so the exchange is built once and reused,
    and no new shuffle is added.  Oversized keys fan out over (ca ≤ cb)
    chunk tiles via an explicit fixed-count repartition on the tile key
    (AQE's byte-based coalesce would fold the small tile INPUTS together
    and re-serialize the pair explosion): every pair lands in exactly one
    tile, every task emits ≤ chunk_c² pairs.  rn is the in-key doc_id
    rank, so rn_a < rn_b ⟺ doc_a < doc_b.  The hot branch is EMPTY on
    normal corpora.

    The payload rides with its rows into both joins and ``pair_filter``
    is part of each join's condition, so a pair that fails it is a
    transient row of the join stage, never shuffle payload.  It is
    written after the doc order test: Catalyst keeps a join condition's
    conjunct order, and the order test halves the pairs the filter sees."""
    n_part = spark.sparkContext.defaultParallelism * 2
    cols = "".join(f", {p}" for p in payload)
    pair_cols = "".join(f", a.{p} AS {p}_a, b.{p} AS {p}_b" for p in payload)
    out_cols = "".join(f", {p}_a, {p}_b" for p in payload)
    and_filter = f" AND {pair_filter}" if pair_filter else ""
    return f"""ranked AS (
  SELECT doc_id, {key}{cols},
         row_number() OVER (PARTITION BY {key} ORDER BY doc_id) AS rn
  FROM {src}
),
sized AS (
  SELECT doc_id, {key}{cols}, rn,
         (rn - 1) DIV {chunk_c} AS chunk,
         max((rn - 1) DIV {chunk_c}) OVER (PARTITION BY {key}) AS kmax
  FROM ranked
),
small AS (SELECT {key}, doc_id{cols} FROM sized WHERE kmax = 0),
cand_small AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b{pair_cols}
  FROM small a JOIN small b
    ON a.{key} = b.{key} AND a.doc_id < b.doc_id{and_filter}
),
hot AS (SELECT * FROM sized WHERE kmax > 0),
a_rep AS (
  SELECT /*+ REPARTITION({n_part}, {key}, ca, cb) */ *
  FROM (SELECT {key}, chunk AS ca, explode(sequence(chunk, kmax)) AS cb,
               doc_id AS doc_a, rn AS rn_a{cols}
        FROM hot)
),
b_rep AS (
  SELECT /*+ REPARTITION({n_part}, {key}, ca, cb) */ *
  FROM (SELECT {key}, explode(sequence(0, chunk)) AS ca, chunk AS cb,
               doc_id AS doc_b, rn AS rn_b{cols}
        FROM hot)
),
cand_hot AS (
  SELECT doc_a, doc_b{pair_cols}
  FROM a_rep a JOIN b_rep b
    ON a.{key} = b.{key}
   AND a.ca = b.ca AND a.cb = b.cb
  WHERE rn_a < rn_b{and_filter}
),
tiled AS (
  SELECT doc_a, doc_b{out_cols} FROM cand_small
  UNION ALL
  SELECT doc_a, doc_b{out_cols} FROM cand_hot
)"""


def _lsh_pair_ctes(spark: SparkSession) -> str:
    """CTE chain documents → banded → tiled band self-join → deduplicated
    candidate pairs → shingle re-attach: everything up to
    ``attached(doc_a, doc_b, sh_a, sh_b)``.

    One spark.sql over this chain replaces ~15 chained DataFrame calls
    (r14, guide §1.2 driver-side): every chained call re-ran full Catalyst
    analysis over the whole wide-HOF minhash tree — measured 0.62 s of
    pure build time per candidate-pairs invocation, ~30% of the query's
    wall at sf0.1 — where the one-shot form analyzes the tree once
    (~0.15 s).  The CTEs are verbatim transcriptions of the previous
    DataFrame calls (same expressions, same order), so the optimized
    physical plan is unchanged — plan-pinned by tests/test_plans.py and
    the committed plans/r14 diffs.

    INTERNAL band keys are single int64s (band index seeds the hash, so
    the exploded column alone identifies the band) — the r12 payload
    rewrite; see _band_keys_select.  The oracled signature op still emits
    md5 strings.  The band self-join is _tiled_pair_ctes at chunk size
    _BAND_CHUNK_C.

    Shingle sets re-attach HASHED to int64 (r12; see _hashed_set): the
    two doc_id-keyed joins are where the verify payload shuffles, and
    every consumer does set-cardinality arithmetic only."""
    return f"""{_sh_cte()},
{_mh_cte_body()},
banded AS (
  SELECT doc_id, {_band_keys_select()} FROM mh
),
expl AS (
  SELECT doc_id, explode(array(band_0, band_1, band_2, band_3)) AS band_key
  FROM banded
),
{_tiled_pair_ctes(spark, "expl", "band_key", _BAND_CHUNK_C)},
cand AS (SELECT DISTINCT doc_a, doc_b FROM tiled),
shh AS (
  SELECT doc_id, array_distinct(transform(shingles, x -> xxhash64(x))) AS shingles
  FROM sh
),
attached AS (
  SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
  FROM cand c
  JOIN shh sa ON sa.doc_id = c.doc_a
  JOIN shh sb ON sb.doc_id = c.doc_b
)"""


def _lsh_candidate_pairs_with_shingles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_a, doc_b, sh_a, sh_b) — deduplicated LSH band-join candidates
    with both shingle sets re-attached as xxhash64 int64 SETS; the shared
    kernel under the verified-pairs, containment, and cluster operators.
    Built via ONE spark.sql analysis (see _lsh_pair_ctes)."""
    return spark.sql(
        f"WITH {_lsh_pair_ctes(spark)}\nSELECT doc_a, doc_b, sh_a, sh_b FROM attached",
        **views(spark, sf_dir),
    )


def _lsh_verified_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — LSH band-join candidates that pass exact
    n-gram Jaccard >= threshold.  Slim band shuffle; see
    dedup_minhash_candidates for the 100 TB plan-shape rationale.

    inter_sz is hoisted into one projected column for readability, but note
    Catalyst re-inlines it anyway: CollapseProject merges the projection and
    predicate-pushdown moves the threshold filter INTO the join condition
    (verified in the optimized plan), so the intersect is evaluated in the
    join predicate per candidate and once more when projecting survivors.
    That trade is correct — filtering inside the join materializes only
    passing pairs — and codegen-level subexpression elimination dedups the
    repeated subtree within the predicate itself."""
    return spark.sql(
        f"""WITH {_lsh_pair_ctes(spark)},
scored AS (
  SELECT doc_a, doc_b, sh_a, sh_b,
         CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) AS inter_sz
  FROM attached
)
SELECT doc_a, doc_b,
       inter_sz / (size(sh_a) + size(sh_b) - inter_sz) AS jaccard
FROM scored
WHERE inter_sz / (size(sh_a) + size(sh_b) - inter_sz)
      >= CAST({threshold!r} AS DOUBLE)""",
        **views(spark, sf_dir),
    )


@query(
    "dedup_ngram_jaccard_sample",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_DUCKDB_SHINGLES} AS shingles FROM documents WHERE doc_id < 20
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
""",
    tags=("dedup",),
)
def dedup_ngram_jaccard_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact n-gram Jaccard over a bounded sample — the ground
    truth the LSH path approximates (bounded input ⇒ the O(n²) join is
    explicitly safe here; never run this shape unbounded)."""
    v = views(spark, sf_dir)
    scored, jac = _all_pairs_jaccard(v["documents"].where(F.col("doc_id") < 20))
    return scored.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))


def _all_pairs_jaccard(docs: DataFrame) -> tuple[DataFrame, F.Column]:
    """Every (doc_a < doc_b) pair of ``docs`` with both shingle sets and
    their intersection size, and the exact Jaccard as a Column over them.
    The join is O(n²): callers bound ``docs``."""
    sh = _with_shingles(docs)
    a, b = sh.alias("a"), sh.alias("b")
    scored = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.shingles").alias("sh_a"),
            F.col("b.shingles").alias("sh_b"),
        )
        # hoisted: one array_intersect per pair (Catalyst won't CSE it)
        .withColumn("inter_sz", F.size(F.array_intersect("sh_a", "sh_b")).cast("double"))
    )
    return scored, F.col("inter_sz") / (F.size("sh_a") + F.size("sh_b") - F.col("inter_sz"))


# SimHash signature definition (shared by the Spark worker and the DuckDB
# oracle): token hash = first 8 bytes of md5(token) read big-endian as a
# 64-bit value h; acc[i] = Σ over tokens of (+1 if bit i of h else -1);
# signature bit i = 1 iff acc[i] > 0 (ties → 0); result wrapped to signed
# int64.  Tokens = whitespace-split, empties dropped; token-less docs → 0.
_DUCKDB_SIMHASH_SIG_CTES = """toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
th AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS h
  FROM toks WHERE tok <> ''
),
bitacc AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS bit) b
  GROUP BY doc_id, b.bit
),
rawsig AS (
  SELECT doc_id,
         SUM(CASE WHEN acc > 0 THEN CAST(1::UBIGINT << bit AS HUGEINT)
                  ELSE 0::HUGEINT END) AS s
  FROM bitacc GROUP BY doc_id
),
sigs AS (
  SELECT d.doc_id,
         COALESCE(CAST(r.s - CASE WHEN r.s >= 9223372036854775808::HUGEINT
                                  THEN 18446744073709551616::HUGEINT
                                  ELSE 0::HUGEINT END AS BIGINT),
                  0) AS simhash
  FROM documents d LEFT JOIN rawsig r ON d.doc_id = r.doc_id
)"""


def _simhash_batches(batches):
    """mapInPandas worker: numpy-vectorized SimHash over whole batches.

    r13 rewrite of the per-document kernel (guide §4.2 — hand whole
    batches to vectorized code).  Two wins over the per-doc form:

    * **md5 once per DISTINCT token per batch.**  Natural-language token
      frequency is Zipfian, so hashing the batch vocabulary instead of
      every occurrence cuts the hashlib calls ~5-10× (the dominant cost:
      one C-call per token).  Occurrences become integer ids into the
      vocabulary's digest table.
    * **One unpackbits + one segmented reduce per document CHUNK.**  The
      (occurrences × 64) uint8 bit matrix is built in one `np.unpackbits`
      and the per-document ±1 majority vote is one `np.add.reduceat`
      (accumulating in int64) over document segments — no per-document
      numpy-call overhead.  Work is chunked at `_SIMHASH_DOC_CHUNK`
      documents so the gathered bit matrix stays ~10 MB regardless of
      Arrow batch size (an unchunked 10k-doc batch of salted unique
      tokens gathered a ~1 GB int64 matrix per task and ran 2× SLOWER
      than the per-doc form at 64× — measured r13; the chunked uint8
      form wins on both the natural and the salted corpus).

    Bit semantics are IDENTICAL to the previous per-doc kernel (and the
    DuckDB oracle CTEs): token hash = first 8 md5 bytes big-endian,
    acc[i] = Σ ±1, signature bit i = acc > 0, MSB-first packing, wrap to
    signed int64; token-less documents → 0."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    # ASCII \s to match the RE2 '\s+' the SQL-side tokenizers use
    ws = re.compile(r"\s+", re.ASCII)
    md5 = hashlib.md5
    chunk_n = _SIMHASH_DOC_CHUNK

    for pdf in batches:
        out = np.zeros(len(pdf), dtype=np.int64)
        all_texts = pdf["text"]
        for lo in range(0, len(pdf), chunk_n):
            texts = all_texts.iloc[lo : lo + chunk_n]
            n = len(texts)
            sigs = np.zeros(n, dtype=np.int64)
            vocab: dict[str, int] = {}
            digests: list[bytes] = []
            ids: list[int] = []
            lens = np.zeros(n, dtype=np.int64)
            get = vocab.get
            for i, text in enumerate(texts):
                cnt = 0
                for tok in ws.split(text):
                    if not tok:
                        continue
                    j = get(tok)
                    if j is None:
                        j = len(digests)
                        vocab[tok] = j
                        digests.append(md5(tok.encode("utf-8")).digest()[:8])
                    ids.append(j)
                    cnt += 1
                lens[i] = cnt
            if digests:
                # big-endian bytes, MSB-first unpack ⇒ column j is bit
                # (63-j) of h, i.e. columns are already in MSB-first
                # signature order.  uint8 end to end; reduceat widens.
                bits = np.unpackbits(
                    np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(-1, 8),
                    axis=1,
                )
                nz = lens > 0
                offsets = np.zeros(int(nz.sum()), dtype=np.int64)
                offsets[1:] = np.cumsum(lens[nz])[:-1]
                ones = np.add.reduceat(
                    bits[np.asarray(ids, dtype=np.int64)],
                    offsets,
                    axis=0,
                    dtype=np.int64,
                )
                acc = ones * 2 - lens[nz][:, None]
                packed = np.packbits(acc > 0, axis=1)
                sigs[nz] = np.frombuffer(packed.tobytes(), dtype=">u8").astype(
                    np.uint64
                ).view(np.int64)
            out[lo : lo + n] = sigs
            ids.clear()
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})


def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash int64) — scan-side, zero-shuffle signature pass."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )
    v = views(spark, sf_dir)
    return v["documents"].select("doc_id", "text").mapInPandas(_simhash_batches, schema)


@query(
    "dedup_simhash",
    oracle=f"""
WITH {_DUCKDB_SIMHASH_SIG_CTES}
SELECT doc_id, simhash FROM sigs
""",
    tags=("dedup", "simhash", "pandas-udf", "bench"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document via a numpy-vectorized Pandas UDF.

    The signature is defined over md5 token hashes so it is engine-
    independent: the DuckDB oracle recomputes the identical bits in pure
    SQL (unnest tokens → per-bit ±1 sums → power-of-two recombination),
    making this hash-verifiable end-to-end — property tests additionally
    cover perturbation behavior in tests/test_dedup_ops.py."""
    return _simhash_signatures(spark, sf_dir)


SIMHASH_BANDS = 4  # 4 × 16-bit bands over the 64-bit signature
SIMHASH_MAX_HAMMING = 8


@query(
    "dedup_simhash_buckets",
    oracle=f"""
WITH {_DUCKDB_SIMHASH_SIG_CTES},
bands AS (
  SELECT s.doc_id, s.simhash, b.band_id,
         (s.simhash >> (16 * b.band_id)) & 65535 AS band_val
  FROM sigs s CROSS JOIN (SELECT unnest(range({SIMHASH_BANDS})) AS band_id) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b))::INTEGER AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_MAX_HAMMING}
""",
    tags=("dedup", "simhash", "pandas-udf", "bench"),
)
def dedup_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs via banded LSH buckets.

    The second full dedup path (mirroring dedup_minhash_candidate_pairs):
    the 64-bit signature splits into 4 × 16-bit bands; documents sharing
    any band value become candidates through an equi-join on
    (band_id, band_val) — a bucketed shuffle join, never all-pairs — and
    candidates are verified by Hamming distance ``bit_count(a ^ b)`` ≤ 8.
    Any pair within Hamming distance 3 shares at least one intact band
    (pigeonhole), so recall is structural, not sampled.  The shuffle rows
    carry only (doc_id, 8-byte signature, 2-byte band) — at 100 TB the
    band join moves a few bytes per document, and the signature pass
    itself is the zero-shuffle scan above.

    The signature relation feeds BOTH sides of the band self-join; without
    materialization Spark re-executes the Python mapInPandas signature
    pass once per side.  A localCheckpoint pins the (doc_id, simhash)
    rows (10 bytes/doc) so the corpus crosses the Python boundary exactly
    once."""
    sig = _simhash_signatures(spark, sf_dir).localCheckpoint(eager=True)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.expr(f"shiftright(simhash, {16 * b}) & 65535").alias("band_val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    # Hamming verify BEFORE the pair dedup (r14, guide §2.3): a pair's
    # signatures are per-document constants, so every duplicate row of a
    # multi-band match carries the identical hamming value and filtering
    # first is output-identical — but it shrinks the dropDuplicates
    # exchange by the verify selectivity (measured 4.5 MB → ~0.3 MB at
    # sf0.1; Catalyst cannot push the filter itself because hamming is
    # not a grouping key of the dedup aggregate).
    ham = F.expr("bit_count(sig_a ^ sig_b)")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .dropDuplicates(["doc_a", "doc_b"])
    )


@query(
    "dedup_connected_components",
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, {_DUCKDB_SHINGLES} AS shingles FROM documents WHERE doc_id < 1000
),
pairs AS (
  SELECT a.doc_id AS pa, b.doc_id AS pb
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.15
),
{_duckdb_edges('pairs', 'pa', 'pb')},
{_DUCKDB_REACH}
{_DUCKDB_CC_SELECT}
""",
    tags=("dedup", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate *clusters*: connected components over the pair graph,
    by iterative min-label propagation to a fixpoint.

    Pairs only say "a matches b"; dedup needs the transitive closure (keep
    one doc per CLUSTER).  Each iteration joins current labels across edges
    and takes the per-node min; convergence in O(diameter) rounds.  This is
    the DataFrame formulation of large-scale connected components (cf.
    alternating large-star/small-star) — every step is a shuffle-join, no
    driver-side graph.  The DuckDB oracle computes the same closure with a
    recursive CTE.  Edge source here is bounded exact-Jaccard; at scale the
    LSH candidate join (dedup_minhash_candidate_pairs) produces the edges —
    the component loop is unchanged."""
    v = views(spark, sf_dir)
    scored, jac = _all_pairs_jaccard(v["documents"].where(F.col("doc_id") < 1000))
    pairs = scored.where(jac >= 0.15).select("doc_a", "doc_b")
    return _components_output(pairs)


@query(
    "dedup_cluster_pipeline",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_NEARDUP_GRAPH},
{_DUCKDB_REACH}
{_DUCKDB_CC_SELECT}
""",
    tags=("dedup", "minhash", "iterative", "bench"),
)
def dedup_cluster_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup clustering path, end to end: MinHash LSH
    band-join candidates → exact-Jaccard verification (>= 0.2) → connected
    components by min-label propagation → (doc_id, component_id,
    component_size).

    This is the composition a 100 TB dedup actually runs: the edge list
    comes from the bucketed LSH join (never an all-pairs join — contrast
    dedup_connected_components, the bounded ground-truth variant), and the
    CC loop's per-iteration shuffles operate on the pair graph, which is
    orders of magnitude smaller than the corpus.  Benchmarked so both the
    LSH join and the iterative loop have wall-clock numbers."""
    pairs = _lsh_verified_pairs(spark, sf_dir, threshold=0.2).select(
        "doc_a", "doc_b"
    )
    return _components_output(pairs)


@query(
    "dedup_cluster_survivors",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_COMPONENTS}
SELECT d.doc_id, d.lang, d.source,
       (c.doc_id IS NOT NULL)::INTEGER AS was_clustered
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR c.component_id = d.doc_id
""",
    tags=("dedup", "minhash", "iterative"),
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaned-corpus output of the near-dup pipeline: keep ONE document
    per near-dup cluster (the min-doc_id keeper) plus every unclustered
    document — i.e. what a 100 TB dedup actually ships downstream.

    Composition: LSH candidates → Jaccard verify → connected components →
    keeper selection (label == self) → anti-join-style merge with the
    corpus.  The keeper rule generalizes (earliest crawl, highest quality
    score) by swapping the min() in the component labeling."""
    v = views(spark, sf_dir)
    labels = _lsh_component_labels(spark, sf_dir)
    docs = v["documents"].select("doc_id", "lang", "source")
    lab = labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("component_id")
    )
    merged = docs.join(lab, "doc_id", "left")
    return (
        merged.where(
            F.col("component_id").isNull()
            | (F.col("component_id") == F.col("doc_id"))
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("component_id").isNotNull().cast("int").alias("was_clustered"),
        )
    )


def _min_label_components(edges: DataFrame) -> DataFrame:
    """(node, lbl) — connected-component labels over a directed edge list.

    Each round does min-label propagation (label(v) ← min over v and its
    neighbors' labels) followed by **pointer halving** (label(v) ←
    label(label(v))): because every label is itself a node id, following
    the label one extra hop doubles the distance information travels per
    round, so a path of length L converges in O(log L) rounds instead of
    O(L) — the shortcutting trick from scale CC algorithms (cf. alternating
    large-star/small-star).  Every step is a shuffle-join, no driver-side
    graph; one count() action per round is the fixpoint check.  The final
    labels are localCheckpoint-ed (truncates the iterative lineage AND lets
    the blocks be freed when the result is dropped — a .cache() here would
    pin executor storage until session end)."""
    # Lazy localCheckpoint, not .cache() (r14): a cached plan is compiled
    # with AQE's final-stage coalescing DISABLED
    # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false
    # default), so the cached edge list kept the full shuffle-partition
    # fan-out (32 tiny partitions at bench scale) and EVERY loop round
    # inherited one scheduling wave of near-empty tasks per stage.  The
    # checkpoint materializes the AQE-coalesced plan instead — partition
    # count tracks data size at any scale — and, like the loop's label
    # checkpoints, its blocks are freed when the DataFrame is dropped.
    # Interleaved A/B on dedup_cluster_pipeline: 3.08 → 2.18 s min-of-5.
    edges = edges.localCheckpoint(eager=False)

    # Fused round-0 (r13): the old loop initialized lbl(v) = v and spent
    # its whole first round discovering lbl(v) = least(v, min neighbor) —
    # one distinct + one join + one aggregation just to compute what a
    # single map-side-combinable aggregation over the edge list yields
    # directly (edges carry both orientations, so every node appears as
    # src).  Seeding the loop with that state removes one full iteration
    # (≈1/3 of the loop's serial stage chain at bench scale) and is
    # convergence-neutral: the fixpoint — every node labeled with its
    # component minimum — is unique, and the loop still runs until no
    # label changes, so the output is identical (pinned by the oracle and
    # the chain-topology test).
    #
    # Each round ends in a localCheckpoint: the halving step joins the
    # round's output against ITSELF, so without lineage truncation the
    # logical plan doubles every round and Catalyst analysis goes
    # exponential in the round count.  Checkpointing keeps every round's
    # plan constant-size (and, unlike .cache(), the blocks are freed when
    # the DataFrame is dropped — no storage pinned after the result is
    # consumed).  r13: eager=False + the fixpoint count() as the
    # materializing action — the count job persists the checkpoint blocks
    # as it computes them, where eager=True scheduled a separate
    # materialization job per round (guide §1.2: remove whole passes).
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("lbl"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(eager=False)
    )
    while True:
        # Propagation as ONE aggregation (r14, VERDICT #2 / guide §2.4):
        # the old form computed nbr_min = min neighbor label per src and
        # then JOINED it back onto labels — a second node-keyed shuffle
        # join every round, and the terminal (confirmation) round paid it
        # just to prove nothing changed.  Instead, union the neighbor
        # label contributions with the self rows and fold both the new
        # label AND the old label out of a single groupBy on the same
        # shuffle: mid_lbl = min over {self lbl} ∪ {neighbor lbls};
        # old_lbl = the unique self row's lbl.  Every node appears in
        # exactly one self row (labels is keyed by node), so old_lbl is
        # exact and mid_lbl = least(old, min nbr) — identical to the
        # joined form, with one join and one shuffle fewer per round.
        nbr = edges.join(labels, edges["dst"] == labels["node"]).select(
            edges["src"].alias("node"), "lbl", F.lit(False).alias("is_self")
        )
        self_rows = labels.select("node", "lbl", F.lit(True).alias("is_self"))
        prop = (
            nbr.unionByName(self_rows)
            .groupBy("node")
            .agg(
                F.min("lbl").alias("mid_lbl"),
                F.min(F.when(F.col("is_self"), F.col("lbl"))).alias("old_lbl"),
            )
            .select("node", "old_lbl", "mid_lbl")
            .localCheckpoint(eager=False)  # count materializes; halving re-reads
        )
        changed = prop.where(F.col("mid_lbl") != F.col("old_lbl")).count()
        if changed == 0:
            # Fixpoint test BEFORE halving (r13): if min-label propagation
            # changed nothing, labels are already constant across every
            # edge (for any edge (u,v): lbl(v) ≤ lbl(u) and lbl(u) ≤
            # lbl(v)), i.e. converged — and pointer halving is then the
            # identity (lbl(lbl(v)) = lbl(v)), so the terminal round's
            # halving self-join was two joins spent computing a no-op.
            # Both loop forms detect convergence on the SAME round (if
            # any mid_lbl < old_lbl the old post-halving check also saw a
            # change, halving being monotone), so rounds and labels are
            # identical — the terminal round just got two joins cheaper.
            labels = prop.select("node", F.col("mid_lbl").alias("lbl"))
            break
        # pointer halving: follow the freshly-propagated label one more hop
        hop = prop.select(F.col("node").alias("h_node"), F.col("mid_lbl").alias("h_lbl"))
        labels = (
            prop.join(hop, prop["mid_lbl"] == hop["h_node"], "left")
            .select(
                "node",
                F.least(F.col("mid_lbl"), F.coalesce(F.col("h_lbl"), F.col("mid_lbl"))).alias("lbl"),
            )
            # lazy: the NEXT round's fixpoint count materializes this —
            # no standalone checkpoint job per round (guide §1.2)
            .localCheckpoint(eager=False)
        )
    return labels


def _both_directions(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) → (src, dst) with both orientations via ONE explode.

    A union of `pairs` with its swap references the pair DataFrame twice,
    and Catalyst recomputes the whole upstream plan for each branch — for
    LSH-verified pairs that doubles the most expensive stage of the
    pipeline.  Exploding a 2-element struct array doubles the rows in a
    single pass instead."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _lsh_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, lbl) — component labels of the verified LSH near-dup graph
    (candidate pairs with exact Jaccard >= 0.2)."""
    pairs = _lsh_verified_pairs(spark, sf_dir, threshold=0.2).select("doc_a", "doc_b")
    return _min_label_components(_both_directions(pairs))


def _components_output(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) undirected pair list → (doc_id, component_id,
    component_size), the dedup-cluster output shape."""
    from pyspark.sql import Window as W

    edges = _both_directions(pairs)
    labels = _min_label_components(edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("component_id")
    ).withColumn("component_size", F.count("*").over(W.partitionBy("component_id")))


@query(
    "dedup_cluster_best_keeper",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_COMPONENTS},
ranked AS (
  SELECT c.component_id, c.doc_id,
         len(string_split_regex(trim(d.text), '\\s+')) AS n_words,
         ROW_NUMBER() OVER (
           PARTITION BY c.component_id
           ORDER BY len(string_split_regex(trim(d.text), '\\s+')) DESC, c.doc_id
         ) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT component_id, doc_id AS keeper_id, n_words AS keeper_words
FROM ranked WHERE rn = 1
""",
    tags=("dedup", "minhash", "iterative"),
)
def dedup_cluster_best_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based keeper selection per near-dup cluster: instead of the
    min-doc_id keeper, keep the HIGHEST-QUALITY member (here: most words,
    doc_id tie-break) of each connected component.

    This is the generalized keep-policy the survivor queries promise —
    swap the ranking expression for any quality score (crawl recency,
    perplexity, source trust).  One extra doc_id-keyed join to fetch the
    quality metric plus a per-component window; the component labels come
    from the same O(log n) pointer-halving loop."""
    from pyspark.sql import Window as W

    v = views(spark, sf_dir)
    labels = _lsh_component_labels(spark, sf_dir)
    quality = v["documents"].select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words"),
    )
    ranked = (
        labels.select(
            F.col("node").alias("doc_id"), F.col("lbl").alias("component_id")
        )
        .join(quality, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("component_id").orderBy(
                    F.desc("n_words"), F.asc("doc_id")
                )
            ),
        )
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("keeper_id"),
            F.col("n_words").alias("keeper_words"),
        )
    )


@query(
    "dedup_decontaminate",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_DUCKDB_SHINGLES} AS shingles FROM documents
),
bench AS (
  SELECT doc_id AS bench_id, unnest(shingles) AS shingle
  FROM sh WHERE doc_id < 10
),
corpus AS (
  SELECT doc_id, unnest(shingles) AS shingle
  FROM sh WHERE doc_id >= 10
),
hits AS (
  SELECT c.doc_id, b.bench_id, COUNT(*) AS shared
  FROM corpus c JOIN bench b ON c.shingle = b.shingle
  GROUP BY c.doc_id, b.bench_id
)
SELECT doc_id,
       COUNT(*)            AS n_bench_docs,
       MAX(shared)::BIGINT AS max_shared,
       MIN(bench_id)       AS worst_bench_id
FROM hits
WHERE shared >= 3
GROUP BY doc_id
""",
    tags=("dedup", "decontamination"),
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥3 3-token
    shingles with any held-out benchmark document (here: doc_id < 10
    stands in for the eval set).

    The canonical pre-training hygiene pass.  Scale shape: real benchmark
    suites are tiny (10⁵-10⁶ shingles), so the benchmark side BROADCASTS
    and the 100 TB corpus side streams through a broadcast hash join with
    zero shuffle of corpus data; the per-(doc, bench) overlap count is a
    map-side-combinable aggregation on the (small) hit set.  worst_bench_id
    = the lowest-id matched benchmark doc (deterministic tie-break)."""
    v = views(spark, sf_dir)
    # Shingles are join/group keys only here — hash to int64 (r12, see
    # _hashed_set): the broadcast benchmark table shrinks ~5× and the
    # overlap-count hash table keys are 8-byte longs.
    sh = _with_shingles(v["documents"]).select(
        "doc_id", _hashed_set("shingles").alias("shingles")
    )
    bench = (
        sh.where(F.col("doc_id") < 10)
        .select(F.col("doc_id").alias("bench_id"), F.explode("shingles").alias("shingle"))
    )
    corpus = (
        sh.where(F.col("doc_id") >= 10)
        .select("doc_id", F.explode("shingles").alias("shingle"))
    )
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("shared"))
    )
    return (
        hits.where(F.col("shared") >= 3)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bench_docs"),
            F.max("shared").alias("max_shared"),
            F.min("bench_id").alias("worst_bench_id"),
        )
    )


@query(
    "dedup_common_spans",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         md5(unnest(list_transform(range(1, len(toks) - 3),
                                   i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram_h
  FROM t
),
freq AS (
  SELECT gram_h, COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram_h
),
common AS (SELECT gram_h FROM freq WHERE n_docs >= 2)
SELECT g.doc_id,
       COUNT(*)                       AS n_5grams,
       COUNT(c.gram_h)::BIGINT        AS n_common_5grams,
       round(CAST(COUNT(c.gram_h) AS DOUBLE) / COUNT(*), 4) AS common_span_frac,
       CASE WHEN CAST(COUNT(c.gram_h) AS DOUBLE) / COUNT(*) > 0.5 THEN 1 ELSE 0 END AS flagged
FROM g LEFT JOIN common c ON g.gram_h = c.gram_h
GROUP BY g.doc_id
""",
    tags=("dedup", "text", "pipeline"),
)
def dedup_common_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicate-span detection ("Deduplicating Training Data"
    at span granularity / CCNet boilerplate pass): flag the fraction of
    each document's 5-token spans that also appear verbatim in ANOTHER
    document; documents that are mostly shared spans are boilerplate or
    near-copies.

    Scale shape: spans never leave the scan as text — each is md5-hashed
    scan-side, so both shuffles (span-frequency groupBy and the
    flag-back equi-join) carry 16-byte keys + counters.  The common-span
    set is corpus-dependent but heavy-tailed; at 100 TB the join stays a
    plain equi-join on the hash (AQE broadcasts it when small, shuffles
    when not).  df >= 2 means "appears in any other document" — raise the
    threshold at production scale to target true boilerplate."""
    v = views(spark, sf_dir)
    t = v["documents"].select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    g = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 4),"
                " i -> md5(concat_ws(' ', slice(toks, i, 5))))"
            )
        ).alias("gram_h"),
    )
    freq = g.groupBy("gram_h").agg(F.countDistinct("doc_id").alias("n_docs"))
    common = freq.where(F.col("n_docs") >= 2).select(
        "gram_h", F.lit(1).alias("is_common")
    )
    joined = g.join(common, "gram_h", "left")
    frac = F.sum("is_common").cast("double") / F.count("*")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_5grams"),
            F.coalesce(F.sum("is_common"), F.lit(0)).cast("long").alias("n_common_5grams"),
            F.round(F.coalesce(frac, F.lit(0.0)), 4).alias("common_span_frac"),
            F.when(F.coalesce(frac, F.lit(0.0)) > 0.5, 1).otherwise(0).alias("flagged"),
        )
    )


def _fast_oracle() -> str:
    from parquet_query_spark.functions.xxh64_sql import spark_h12_struct_sql

    return f"""
WITH sh AS (
  SELECT doc_id, {_DUCKDB_SHINGLES} AS shingles FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(shingles, x -> {spark_h12_struct_sql('x')}) AS h12
  FROM sh
),
mh AS (
  SELECT doc_id,
       {_minhash_cols_duckdb()}
  FROM h
)
SELECT doc_id,
       {_band_cols_duckdb()}
FROM mh
"""


@query("dedup_minhash_signatures_fast", oracle=_fast_oracle(), tags=("dedup", "minhash"))
def dedup_minhash_signatures_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-speed MinHash: xxhash64 instead of md5 for the
    Carter-Wegman family — same plan shape as dedup_minhash_signatures,
    measured ~1.3x faster end-to-end at 8x sf0.1 (hashing is cheaper;
    shingle construction now dominates).

    Oracle: DuckDB has no xxhash64, so the oracle carries a generated
    pure-SQL XXH64 (``functions/xxh64_sql.py`` — HUGEINT u64 arithmetic,
    stripe loop via list_reduce) reproducing Spark's hash bit-for-bit;
    the previously-unverifiable fast path now hash-matches the driver
    check like every other catalog entry.  Use THIS variant at 100 TB."""
    return spark.sql(
        _minhash_sql(_band_md5_select(), _SPARK_XXH_H12), **views(spark, sf_dir)
    )


@query(
    "neardup_graph_degrees",
    oracle=f"""
WITH {_DUCKDB_VERIFIED},
und AS (
  SELECT doc_a AS doc_id FROM verified
  UNION ALL
  SELECT doc_b AS doc_id FROM verified
),
deg AS (SELECT doc_id, COUNT(*) AS degree FROM und GROUP BY doc_id)
SELECT degree, COUNT(*) AS n_docs
FROM deg
GROUP BY degree
""",
    tags=("dedup", "graph", "profiling"),
)
def neardup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-duplicate graph — the QA profile a
    dedup run ships with: how many documents have exactly d verified
    near-duplicates.  A heavy tail here means template clusters (one hub
    duplicated thousands of times) and predicts both the dedup ratio and
    the skew the connected-components pass must absorb.

    Scale shape: edges come from the same bucketed LSH band join as
    dedup_minhash_candidate_pairs (slim band keys, never all-pairs);
    degrees are one groupBy over the (much smaller) edge list and the
    histogram a second tiny aggregation — profiling cost is edge-bound,
    not corpus-bound."""
    verified = _lsh_verified_pairs(spark, sf_dir, threshold=0.2)
    und = verified.select(F.col("doc_a").alias("doc_id")).unionAll(
        verified.select(F.col("doc_b").alias("doc_id"))
    )
    deg = und.groupBy("doc_id").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_docs"))
    )


def _rarest_token_ctes(docs: str) -> str:
    """``fuzzy_join_rarest_token``'s blocking CTEs over the ``docs``
    relation: ``pref`` (each document's distinct words of its 8-word
    prefix, sorted), ``w`` (one row per prefix word), ``df`` (document
    frequency per word) and ``blocked`` (each document's rarest prefix
    word, ties by spelling, keyed by its xxhash64)."""
    return f"""pref AS (
  SELECT doc_id,
         array_sort(array_distinct(slice(split(trim(text), ' '), 1, 8))) AS words
  FROM {docs}
),
w AS (SELECT doc_id, explode(words) AS word FROM pref),
df AS (SELECT word, count(*) AS dfreq FROM w GROUP BY word),
blocked AS (
  SELECT doc_id, xxhash64(word) AS block_key FROM (
    SELECT w.doc_id, w.word,
           row_number() OVER (PARTITION BY w.doc_id ORDER BY df.dfreq, w.word) AS rn
    FROM w JOIN df ON w.word = df.word
  ) WHERE rn = 1
)"""


@query(
    "fuzzy_join_rarest_token",
    oracle="""
WITH pref AS (
  SELECT doc_id,
         list_sort(list_distinct(string_split(trim(text), ' ')[:8])) AS words
  FROM documents
),
w AS (SELECT doc_id, unnest(words) AS word FROM pref),
df AS (SELECT word, COUNT(*) AS dfreq FROM w GROUP BY word),
blocked AS (
  SELECT doc_id, word AS block_key FROM (
    SELECT ww.doc_id, ww.word,
           ROW_NUMBER() OVER (PARTITION BY ww.doc_id
                              ORDER BY d.dfreq, ww.word) AS rn
    FROM w ww JOIN df d ON ww.word = d.word
  ) WHERE rn = 1
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blocked a JOIN blocked b
    ON a.block_key = b.block_key AND a.doc_id < b.doc_id
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(pa.words, pb.words)) AS DOUBLE)
           / (len(pa.words) + len(pb.words)
              - len(list_intersect(pa.words, pb.words))) AS jac
  FROM cand c
  JOIN pref pa ON c.doc_a = pa.doc_id
  JOIN pref pb ON c.doc_b = pb.doc_id
)
SELECT doc_a, doc_b, round(jac, 4) AS jaccard
FROM scored
WHERE jac >= 0.5
""",
    tags=("dedup", "fuzzy", "join"),
)
def fuzzy_join_rarest_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy similarity self-join with rarest-token blocking — the entity
    resolution kernel: compare records only within blocks keyed by each
    record's LOWEST-document-frequency token (here: of its 8-word prefix),
    then verify word-set Jaccard >= 0.5.

    Why rarest-token blocking scales: every record lands in exactly ONE
    block, and block sizes are bounded by the rarest token's document
    frequency — hot common tokens ("the") never become join keys, which
    is precisely what kills naive token-blocked joins at 100 TB.  The DF
    table is one word-keyed aggregation; the block assignment is a
    row_number argmin; the candidate join carries the ≤8-word sets WITH
    the block rows and verifies Jaccard INSIDE the join stage (r11) —
    raw candidate pairs are bounded only by rarest-token df, so they
    must stay transient codegen rows, never shuffle payload (the
    re-attach-by-doc_id shape moved ~150 GB at 512× and died; only
    verified survivors shuffle now).  Trade-off (single
    blocking key misses pairs whose rarest tokens differ) is the standard
    ER recall/cost dial — add the 2nd-rarest token as a second blocking
    pass to raise recall."""
    # dfreq is vocabulary-sized (one row per distinct prefix token) and
    # grows with the corpus — no broadcast hint; AQE picks broadcast only
    # while the vocabulary actually fits, and falls back to a shuffle join
    # at 100 TB vocabularies instead of OOMing the driver.
    # rn ties break on the STRING word (oracle parity), but the emitted
    # block key is its xxhash64 — the key is only ever an equi-join /
    # partition key downstream, and an 8-byte long beats a token string
    # through three shuffles (r12 payload rewrite; collision = 2^-64 per
    # token pair, and any merged block still faces Jaccard verification).
    # The word sets that ride into the tile join are xxhash64-hashed too
    # (r12; see _hashed_set): Jaccard is set-cardinality arithmetic,
    # value-identical on the hashes.
    #
    # The block self-join is _tiled_pair_ctes (r11): a block's pairs grow
    # quadratically in its size (observed at 8× scale: a 9,000-doc block =
    # 40M pairs in a single task).  CRITICAL scale property (r11 512×
    # post-mortem): the word sets ride INTO the tile join and the Jaccard
    # threshold filters INSIDE the join stage, so raw candidate pairs —
    # ~10⁹ at 512×, since block sizes are bounded only by the rarest
    # token's df — are transient codegen rows, never shuffle payload.
    # Re-attaching words to slim raw pairs by two doc_id shuffle joins
    # moved ~150 GB through the exchange at 512× and filled the disk with
    # sort spill.  Only the jac ≥ 0.5 survivors shuffle afterward.
    return spark.sql(
        f"""WITH {_rarest_token_ctes("{documents}")},
prefh AS (
  SELECT doc_id, array_distinct(transform(words, x -> xxhash64(x))) AS words FROM pref
),
keyed AS (
  SELECT b.doc_id, b.block_key, p.words FROM blocked b JOIN prefh p ON p.doc_id = b.doc_id
),
{_tiled_pair_ctes(spark, "keyed", "block_key", _FUZZY_CHUNK_C, ("words",),
                  f"{_jaccard_sql('a.words', 'b.words')} >= 0.5")}
SELECT doc_a, doc_b, round({_jaccard_sql("words_a", "words_b")}, 4) AS jaccard
FROM tiled""",
        **views(spark, sf_dir),
    )


def _jaccard_sql(x: str, y: str) -> str:
    """Spark SQL: the Jaccard similarity of the sets ``x`` and ``y``."""
    inter = f"CAST(size(array_intersect({x}, {y})) AS DOUBLE)"
    return f"{inter} / (size({x}) + size({y}) - {inter})"


@query(
    "pipeline_dedup_report",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_NEARDUP_GRAPH},
{_DUCKDB_REACH},
comp AS (SELECT root AS doc_id, MIN(node) AS component_id FROM reach GROUP BY root)
SELECT (SELECT COUNT(*) FROM documents)                     AS n_docs,
       (SELECT COUNT(*) FROM verified)                      AS n_pairs,
       (SELECT COUNT(*) FROM comp)                          AS n_clustered_docs,
       (SELECT COUNT(DISTINCT component_id) FROM comp)      AS n_clusters,
       (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp)
         + (SELECT COUNT(DISTINCT component_id) FROM comp)  AS n_survivors,
       CAST(floor(((SELECT COUNT(*) FROM comp)
                   - (SELECT COUNT(DISTINCT component_id) FROM comp))
                  * 10000.0 / (SELECT COUNT(*) FROM documents)) AS BIGINT)
         AS removed_bp
""",
    tags=("dedup", "pipeline", "profiling"),
)
def pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row run report a production dedup job publishes: corpus
    size, verified near-dup pairs, clustered documents, cluster count,
    surviving documents (one keeper per cluster + everything unclustered),
    and the removal rate in basis points.  This is the number a data lead
    reads before signing off a corpus release.

    Scale shape: the expensive stages are the same bucketed LSH verify and
    iterative components the pipeline queries use; the pair list is
    materialized once (localCheckpoint) and every report statistic is a
    single-row aggregate broadcast-joined onto the others — nothing
    corpus-sized moves after the edge list exists."""
    v = views(spark, sf_dir)
    pairs = (
        _lsh_verified_pairs(spark, sf_dir, threshold=0.2)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    comp = _components_output(pairs).select("doc_id", "component_id")
    n_docs = v["documents"].agg(F.count("*").alias("n_docs"))
    n_pairs = pairs.agg(F.count("*").alias("n_pairs"))
    comp_stats = comp.agg(
        F.count("*").alias("n_clustered_docs"),
        F.countDistinct("component_id").alias("n_clusters"),
    )
    return (
        n_docs.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(comp_stats))
        .select(
            "n_docs",
            "n_pairs",
            "n_clustered_docs",
            "n_clusters",
            (
                F.col("n_docs") - F.col("n_clustered_docs") + F.col("n_clusters")
            ).alias("n_survivors"),
            F.floor(
                (F.col("n_clustered_docs") - F.col("n_clusters"))
                * 10000.0
                / F.col("n_docs")
            )
            .cast("bigint")
            .alias("removed_bp"),
        )
    )


@query(
    "dedup_cross_source_matrix",
    oracle=f"""
WITH {_DUCKDB_VERIFIED}
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM verified
JOIN documents da ON da.doc_id = doc_a
JOIN documents db ON db.doc_id = doc_b
GROUP BY 1, 2
""",
    tags=("dedup", "profiling"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: which sources near-duplicate into
    which — the contamination report a corpus audit runs before mixing
    (a heavy off-diagonal cell means one source scraped/mirrors another,
    so their sampling weights double-count the same text).

    The (source, source) key is canonicalized with least/greatest so the
    matrix is upper-triangular and engine-order-independent.  Edges come
    from the shared LSH-verified kernel; the doc→source attachment is a
    broadcast of the slim (doc_id, source) projection; the final
    aggregation runs on the (tiny) labeled edge list — cost stays
    edge-bound, like the degree profile."""
    v = views(spark, sf_dir)
    verified = _lsh_verified_pairs(spark, sf_dir, threshold=0.2)
    src = v["documents"].select("doc_id", "source")
    labeled = (
        verified.join(
            F.broadcast(src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))),
            "doc_a",
        )
        .join(
            F.broadcast(src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))),
            "doc_b",
        )
    )
    return (
        labeled.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "dedup_minhash_containment",
    oracle=f"""
WITH {_DUCKDB_LSH_PAIR_CTES},
scored AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) AS inter_sz,
         CAST(len(sh_a) AS DOUBLE) AS sz_a,
         CAST(len(sh_b) AS DOUBLE) AS sz_b
  FROM pairs
)
SELECT doc_a, doc_b,
       round(inter_sz / (sz_a + sz_b - inter_sz), 4) AS jaccard,
       round(inter_sz / sz_a, 4) AS cont_a_in_b,
       round(inter_sz / sz_b, 4) AS cont_b_in_a,
       CASE
         WHEN round(inter_sz / (sz_a + sz_b - inter_sz), 4) >= 0.5 THEN 'near_dup'
         WHEN round(inter_sz / sz_a, 4) >= 0.8 OR round(inter_sz / sz_b, 4) >= 0.8
           THEN 'containment'
         ELSE 'overlap'
       END AS relation
FROM scored
WHERE inter_sz / sz_a >= 0.5 OR inter_sz / sz_b >= 0.5
""",
    tags=("dedup", "minhash"),
)
def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment scoring over the LSH candidate pairs:
    C(A→B) = |A∩B| / |A| alongside Jaccard.  Containment is what Jaccard
    MISSES — a short document fully quoted inside a long one scores
    near-zero Jaccard (the union is huge) but containment ≈ 1, and that
    sub-document duplication (quotes, syndicated excerpts, doc+appendix
    re-publications) is a major contamination channel a symmetric dedup
    never flags.  Pairs where either direction ≥ 0.5 are kept and
    classified near_dup / containment / overlap.

    Same scale shape as the verified-pairs kernel it shares
    (_lsh_candidate_pairs_with_shingles): slim band-key shuffle for
    candidates, shingles re-attached to candidates only — the extra
    directional ratios are free at the scoring step."""
    pairs = _lsh_candidate_pairs_with_shingles(spark, sf_dir)
    scored = pairs.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double").alias("inter_sz"),
        F.size("sh_a").cast("double").alias("sz_a"),
        F.size("sh_b").cast("double").alias("sz_b"),
    )
    jac = F.round(F.col("inter_sz") / (F.col("sz_a") + F.col("sz_b") - F.col("inter_sz")), 4)
    c_ab = F.round(F.col("inter_sz") / F.col("sz_a"), 4)
    c_ba = F.round(F.col("inter_sz") / F.col("sz_b"), 4)
    return (
        scored.where(
            (F.col("inter_sz") / F.col("sz_a") >= 0.5)
            | (F.col("inter_sz") / F.col("sz_b") >= 0.5)
        )
        .select(
            "doc_a",
            "doc_b",
            jac.alias("jaccard"),
            c_ab.alias("cont_a_in_b"),
            c_ba.alias("cont_b_in_a"),
            F.when(jac >= 0.5, "near_dup")
            .when((c_ab >= 0.8) | (c_ba >= 0.8), "containment")
            .otherwise("overlap")
            .alias("relation"),
        )
    )


@query(
    "dedup_lsh_efficiency",
    oracle=f"""
WITH {_DUCKDB_LSH_PAIR_CTES},
cand AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
         / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jac
  FROM pairs
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN jac >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
       CAST(SUM(CASE WHEN jac >= 0.2 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
         AS precision_bp,
       CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_strong,
       CAST(SUM(CASE WHEN jac < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_noise
FROM cand
""",
    tags=("dedup", "minhash", "qa"),
)
def dedup_lsh_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-efficiency readout: of all band-collision candidates,
    how many verify at the 0.2 Jaccard threshold (precision), how many
    are strong (≥0.5) duplicates, and how many are pure hash noise
    (<0.05).  This single row is how you TUNE the (bands × rows) banding
    parameters — low precision means too-aggressive banding is wasting
    verification compute; low candidate counts with known duplicates
    means banding is too strict.  Shares the candidate kernel, so the
    audit costs one extra aggregation over pairs already scored."""
    pairs = _lsh_candidate_pairs_with_shingles(spark, sf_dir)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    scored = pairs.select(jac.alias("jac"))
    return scored.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("jac") >= 0.2, 1).otherwise(0)).cast("bigint").alias("n_verified"),
        F.expr("SUM(CASE WHEN jac >= 0.2 THEN 1 ELSE 0 END) * 10000 DIV COUNT(*)")
        .cast("bigint")
        .alias("precision_bp"),
        F.sum(F.when(F.col("jac") >= 0.5, 1).otherwise(0)).cast("bigint").alias("n_strong"),
        F.sum(F.when(F.col("jac") < 0.05, 1).otherwise(0)).cast("bigint").alias("n_noise"),
    )


@query(
    "pipeline_dedup_bias_audit",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_COMPONENTS},
classed AS (
  SELECT d.doc_id,
         CASE WHEN c.doc_id IS NULL THEN 'kept_unclustered'
              WHEN c.component_id = d.doc_id THEN 'kept_keeper'
              ELSE 'removed' END AS cohort,
         CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(d.text, '[^A-Za-z0-9\\s]')) * 1000
              // GREATEST(length(d.text), 1) AS BIGINT) AS punct_pm
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT cohort,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS words_sum,
       CAST(SUM(n_words) // COUNT(*) AS BIGINT) AS mean_words,
       CAST(SUM(punct_pm) // COUNT(*) AS BIGINT) AS mean_punct_pm
FROM classed
GROUP BY cohort
""",
    tags=("dedup", "pipeline", "qa", "iterative"),
)
def pipeline_dedup_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship-bias audit of the dedup pass: quality proxies (length,
    punctuation density) for the three cohorts a near-dup pipeline
    creates — untouched docs, cluster keepers, and REMOVED docs.  If the
    removed cohort is systematically longer or cleaner than what
    survived, the keep-policy is throwing away the better copies
    (the classic min-id-keeper failure on mirrored content) and should
    switch to the quality-ranked keeper (dedup_cluster_best_keeper).

    Shapes: the verified-pair/component kernel is shared; quality proxies
    are scan-side integer counts; cohort classification is one broadcast
    join of the (small) component labels; all means are floor-divided
    exact integers."""
    v = views(spark, sf_dir)
    comp = _lsh_component_labels(spark, sf_dir)
    d = v["documents"]
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    punct_pm = F.expr(
        "CAST(length(regexp_replace(text, '[A-Za-z0-9\\\\s]+', '')) * 1000 "
        "DIV GREATEST(length(text), 1) AS BIGINT)"
    )
    classed = (
        d.join(
            F.broadcast(
                comp.select(F.col("node").alias("c_doc"), F.col("lbl").alias("component_id"))
            ),
            F.col("doc_id") == F.col("c_doc"),
            "left",
        )
        .select(
            "doc_id",
            F.when(F.col("c_doc").isNull(), "kept_unclustered")
            .when(F.col("component_id") == F.col("doc_id"), "kept_keeper")
            .otherwise("removed")
            .alias("cohort"),
            n_words.alias("n_words"),
            punct_pm.alias("punct_pm"),
        )
    )
    return (
        classed.groupBy("cohort")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("words_sum"),
            F.expr("SUM(n_words) DIV COUNT(*)").cast("bigint").alias("mean_words"),
            F.expr("SUM(punct_pm) DIV COUNT(*)").cast("bigint").alias("mean_punct_pm"),
        )
    )


@query(
    "dedup_shingle_df_profile",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({_DUCKDB_SHINGLES}) AS shingle FROM documents
),
df AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM sh GROUP BY shingle),
bucketed AS (
  SELECT CASE
           WHEN doc_freq = 1 THEN 'a_unique'
           WHEN doc_freq <= 3 THEN 'b_rare_2_3'
           WHEN doc_freq <= 10 THEN 'c_common_4_10'
           ELSE 'd_boilerplate_over_10'
         END AS df_bucket,
         doc_freq
  FROM df
)
SELECT df_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(doc_freq) AS BIGINT) AS occurrence_mass,
       CAST(MAX(doc_freq) AS BIGINT) AS max_doc_freq
FROM bucketed
GROUP BY df_bucket
""",
    tags=("dedup", "text", "qa", "aggregate"),
)
def dedup_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency profile: how much of the corpus's 3-token
    shingle mass is unique vs boilerplate — the prior that calibrates the
    whole dedup stack (a heavy >10-doc bucket predicts hot LSH bands and
    big common-span yields; an overwhelmingly-unique profile says exact
    dedup alone is nearly enough).  One shingle-keyed map-side-combined
    rollup; the shuffle carries shingle hashes and the final histogram is
    four rows of exact BIGINTs."""
    v = views(spark, sf_dir)
    # The shingle is only a group key; hashing to int64 (r12) makes the
    # corpus-wide doc-freq shuffle carry 8-byte keys instead of 3-token
    # strings — the whole profile is count-identical modulo 2^-64.
    sh = _with_shingles(v["documents"]).select(
        "doc_id", F.explode(_hashed_set("shingles")).alias("shingle")
    )
    dfreq = sh.groupBy("shingle").agg(F.count("*").cast("bigint").alias("doc_freq"))
    bucket = (
        F.when(F.col("doc_freq") == 1, "a_unique")
        .when(F.col("doc_freq") <= 3, "b_rare_2_3")
        .when(F.col("doc_freq") <= 10, "c_common_4_10")
        .otherwise("d_boilerplate_over_10")
    )
    return (
        dfreq.select(bucket.alias("df_bucket"), "doc_freq")
        .groupBy("df_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum("doc_freq").cast("bigint").alias("occurrence_mass"),
            F.max("doc_freq").cast("bigint").alias("max_doc_freq"),
        )
    )


@query(
    "dedup_threshold_sensitivity",
    oracle=f"""
WITH {_DUCKDB_LSH_PAIR_CTES},
cand AS (
  SELECT CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
         / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jac
  FROM pairs
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN jac >= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_010,
       CAST(SUM(CASE WHEN jac >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_020,
       CAST(SUM(CASE WHEN jac >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_030,
       CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS pass_050,
       CAST(SUM(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS pass_080
FROM cand
""",
    tags=("dedup", "minhash", "qa"),
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold sensitivity curve in one pass: verified-pair
    counts at five thresholds from the same scored candidate set —
    THE plot every dedup rollout staring at "0.2 or 0.3?" needs, for one
    extra conditional aggregation instead of five pipeline re-runs.  A
    sharp drop between adjacent thresholds marks a natural cluster
    boundary; a flat stretch means the choice barely matters.  Shares
    the candidate kernel (slim band shuffle, score-once)."""
    pairs = _lsh_candidate_pairs_with_shingles(spark, sf_dir)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jac = (inter / (F.size("sh_a") + F.size("sh_b") - inter)).alias("jac")
    scored = pairs.select(jac)
    return scored.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        *[
            F.sum(F.when(F.col("jac") >= t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"pass_{str(t).replace('.', '')[:3].ljust(3, '0')}")
            for t in (0.1, 0.2, 0.3, 0.5, 0.8)
        ],
    )


@query(
    "text_contamination_hit_rate",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_DUCKDB_SHINGLES} AS shingles FROM documents
),
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id < 20
),
hit AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id >= 20) c
  JOIN bench b ON c.shingle = b.shingle
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(h.doc_id) AS BIGINT) AS n_contaminated,
       CAST(COUNT(h.doc_id) * 10000 // COUNT(*) AS BIGINT) AS hit_rate_bp
FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
WHERE d.doc_id >= 20
GROUP BY d.source
""",
    tags=("text", "dedup", "decontamination"),
)
def text_contamination_hit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: per-source share of corpus documents
    (basis points) sharing at least one 3-token shingle with the held-out
    benchmark set (doc_id < 20 stands in for the eval suite).  The audit
    twin of dedup_decontaminate — run it BEFORE training to size the
    leakage, not just drop it.

    Scale shape: the benchmark shingle set is eval-suite-bounded and
    BROADCAST; the corpus side is one scan + explode with a broadcast
    LEFT SEMI join (no shuffle of corpus shingles) and a per-source
    rollup.  Exact integer basis points."""
    v = views(spark, sf_dir)
    # Membership keys only — int64 hashes (r12): ~5× smaller broadcast.
    sh = _with_shingles(v["documents"]).select(
        "doc_id", _hashed_set("shingles").alias("shingles")
    )
    bench = (
        sh.where(F.col("doc_id") < 20)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    hit = (
        sh.where(F.col("doc_id") >= 20)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .join(F.broadcast(bench), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_hit", F.lit(1))
    )
    return (
        v["documents"]
        .where(F.col("doc_id") >= 20)
        .join(hit, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("is_hit").cast("bigint").alias("n_contaminated"),
            F.expr("COUNT(is_hit) * 10000 DIV COUNT(*)")
            .cast("bigint")
            .alias("hit_rate_bp"),
        )
    )


@query(
    "incremental_minhash_update",
    oracle=f"""
WITH {_DUCKDB_MINHASH_CTES}
SELECT doc_id,
       {_band_cols_duckdb()},
       CASE WHEN doc_id % 13 = 0 THEN 'recomputed' ELSE 'carried' END AS provenance
FROM mh
""",
    tags=("dedup", "minhash", "incremental"),
)
def incremental_minhash_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental signature maintenance: when a delta of changed
    documents arrives (here the deterministic doc_id % 13 slice), only
    that slice re-runs the shingle→minhash→band map; untouched rows are
    CARRIED from the previous signature store (simulated by the same
    computation — at 100 TB it is a parquet signature table) and the two
    are unioned.  Correctness statement: carried ∪ recomputed must be
    bit-identical to a full recompute — which is exactly what the oracle
    checks.

    Scale shape: the delta path scans only the changed partition
    (filter pushed to the scan); the carried path is a signature-table
    scan with no text parsing at all.  Union is partition-local (no
    shuffle), so the plan has no exchange."""
    docs = views(spark, sf_dir)["documents"]
    changed = F.col("doc_id") % 13 == 0
    bands = _minhash_sql(_band_md5_select())
    recomputed = spark.sql(bands, documents=docs.where(changed)).withColumn(
        "provenance", F.lit("recomputed")
    )
    carried = spark.sql(bands, documents=docs.where(~changed)).withColumn(
        "provenance", F.lit("carried")
    )
    return carried.unionByName(recomputed)


@query(
    "dedup_minhash_estimator_error",
    oracle=f"""
WITH {_DUCKDB_LSH_PAIR_CTES},
mh2 AS (
  SELECT doc_id, {_minhash_cols_duckdb()} FROM h
),
scored AS (
  SELECT p.doc_a, p.doc_b,
         CAST(len(list_intersect(p.sh_a, p.sh_b)) AS DOUBLE)
           / len(list_distinct(list_concat(p.sh_a, p.sh_b))) AS exact_j,
         CAST({' + '.join(f'CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END' for i in range(16))}
              AS BIGINT) AS n_match
  FROM pairs p
  JOIN mh2 a ON a.doc_id = p.doc_a
  JOIN mh2 b ON b.doc_id = p.doc_b
)
SELECT CAST(round(abs(CAST(n_match AS DOUBLE) / 16 - exact_j) * 16) AS BIGINT)
         AS abs_err_16ths,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(avg(exact_j), 4) AS mean_exact_jaccard,
       round(avg(CAST(n_match AS DOUBLE) / 16), 4) AS mean_estimated_jaccard
FROM scored
GROUP BY abs_err_16ths
""",
    tags=("dedup", "minhash", "quality"),
)
def dedup_minhash_estimator_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality audit: on every LSH candidate pair,
    compare the 16-hash MinHash Jaccard estimate (matching-component
    fraction) against the exact shingle Jaccard, rolled up into a
    16th-granular absolute-error histogram — the ann_recall_eval
    counterpart for the dedup kernel, answering "are 16 hashes enough at
    our similarity threshold?" before anyone tunes bands.

    Scale shape: reuses the slim band-join candidate kernel; the two
    signature re-attach joins are doc-keyed; the histogram is <=17 rows.
    Both the estimate (n/16) and the exact Jaccard are small rationals,
    so the error bucket is cross-engine exact."""
    pairs = _lsh_candidate_pairs_with_shingles(spark, sf_dir)
    mh = spark.sql(
        _minhash_sql(", ".join(f"mh_{i}" for i in range(N_HASHES))),
        **views(spark, sf_dir),
    )
    a = mh.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(N_HASHES)],
    )
    b = mh.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(N_HASHES)],
    )
    n_match = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    ).cast("bigint")
    exact_j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    scored = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            exact_j.alias("exact_j"),
            n_match.alias("n_match"),
        )
    )
    est = F.col("n_match").cast("double") / N_HASHES
    return (
        scored.groupBy(
            F.round(F.abs(est - F.col("exact_j")) * N_HASHES)
            .cast("bigint")
            .alias("abs_err_16ths")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg("exact_j"), 4).alias("mean_exact_jaccard"),
            F.round(F.avg(est), 4).alias("mean_estimated_jaccard"),
        )
    )


@query(
    "dedup_modality_agreement",
    oracle="""
WITH tkey AS (
  SELECT doc_id, md5(text) AS tk FROM documents
),
tdup AS (
  SELECT doc_id,
         CASE WHEN COUNT(*) OVER (PARTITION BY tk) > 1 THEN 1 ELSE 0 END AS is_text_dup
  FROM tkey
),
ekey AS (
  SELECT e.vec_id AS doc_id,
         md5(array_to_string(list_transform(e.embedding, x ->
             CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR)), ',')) AS ek
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
edup AS (
  SELECT doc_id,
         CASE WHEN COUNT(*) OVER (PARTITION BY ek) > 1 THEN 1 ELSE 0 END AS is_emb_dup
  FROM ekey
)
SELECT t.is_text_dup, e.is_emb_dup,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(t.doc_id) AS BIGINT) AS example_doc
FROM tdup t JOIN edup e ON t.doc_id = e.doc_id
GROUP BY t.is_text_dup, e.is_emb_dup
""",
    tags=("dedup", "embedding", "quality"),
)
def dedup_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement matrix between two dedup modalities on the docs that
    carry both: exact text duplicates (md5 of raw text) vs exact
    embedding duplicates (md5 of the 1e-6-quantized vector).  The
    off-diagonal cells are the interesting ones — text-dup/emb-distinct
    means the embedder is input-sensitive noise, text-distinct/emb-dup
    means near-identical content the text hash missed (the SemDeDup
    motivation), and their sizes tell you which dedup stage to trust.

    Scale shape: two independent hash-keyed window counts (16-byte keys)
    and one doc-keyed join; the matrix is 4 cells."""
    from pyspark.sql import Window as W

    v = views(spark, sf_dir)
    tdup = v["documents"].select(
        "doc_id",
        F.when(
            F.count("*").over(W.partitionBy(F.md5("text"))) > 1, 1
        )
        .otherwise(0)
        .alias("is_text_dup"),
    )
    ekey = (
        v["embeddings"]
        .join(
            v["documents"].select(F.col("doc_id").alias("vec_id")),
            "vec_id",
        )
        .select(
            F.col("vec_id").alias("doc_id"),
            F.md5(
                F.expr(
                    "array_join(transform(embedding, x -> "
                    "CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS STRING)), ',')"
                )
            ).alias("ek"),
        )
    )
    edup = ekey.select(
        "doc_id",
        F.when(F.count("*").over(W.partitionBy("ek")) > 1, 1)
        .otherwise(0)
        .alias("is_emb_dup"),
    )
    return (
        tdup.join(edup, "doc_id")
        .groupBy("is_text_dup", "is_emb_dup")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("example_doc"),
        )
    )


@query(
    "dedup_cluster_size_distribution",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_COMPONENTS},
sizes AS (
  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS component_size
  FROM comp GROUP BY component_id
),
hist AS (
  SELECT component_size, CAST(COUNT(*) AS BIGINT) AS n_components,
         CAST(component_size * COUNT(*) AS BIGINT) AS n_docs
  FROM sizes GROUP BY component_size
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS component_size,
         CAST((SELECT COUNT(*) FROM documents)
              - COALESCE((SELECT SUM(n_docs) FROM hist), 0) AS BIGINT)
           AS n_components,
         CAST((SELECT COUNT(*) FROM documents)
              - COALESCE((SELECT SUM(n_docs) FROM hist), 0) AS BIGINT) AS n_docs
  UNION ALL
  SELECT component_size, n_components, n_docs FROM hist
)
""",
    tags=("dedup", "minhash", "iterative", "quality"),
)
def dedup_cluster_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram, singletons included — the
    power-law check that tells you whether dedup savings come from a few
    giant template clusters (fix the source) or a long tail of pairs
    (LSH is earning its keep).  Size-1 row = documents in no verified
    cluster.

    Scale shape: runs the production LSH→verify→components kernel, then
    two map-side-combined rollups on |components| rows and one broadcast
    corpus count."""
    v = views(spark, sf_dir)
    labels = _lsh_component_labels(spark, sf_dir)
    sizes = labels.groupBy("lbl").agg(
        F.count("*").cast("bigint").alias("component_size")
    )
    hist = sizes.groupBy("component_size").agg(
        F.count("*").cast("bigint").alias("n_components"),
        (F.col("component_size") * F.count("*")).cast("bigint").alias("n_docs"),
    )
    totals = hist.agg(F.sum("n_docs").alias("clustered"))
    n_docs_total = v["documents"].agg(F.count("*").alias("total"))
    singles = (
        n_docs_total.crossJoin(F.broadcast(totals))
        .select(
            F.lit(1).cast("bigint").alias("component_size"),
            (F.col("total") - F.coalesce(F.col("clustered"), F.lit(0)))
            .cast("bigint")
            .alias("n_components"),
            (F.col("total") - F.coalesce(F.col("clustered"), F.lit(0)))
            .cast("bigint")
            .alias("n_docs"),
        )
    )
    return singles.unionByName(hist)


@query(
    "dedup_band_tuning_table",
    oracle="""
WITH cfg AS (
  SELECT * FROM (VALUES (64, 1), (32, 2), (16, 4), (8, 8), (4, 16), (2, 32), (1, 64))
       AS t(bands, rows_per_band)
),
sims AS (SELECT CAST(unnest([0.5, 0.7, 0.8, 0.9, 0.95]) AS DOUBLE) AS s)
SELECT bands, rows_per_band,
       round(pow(1.0 / bands, 1.0 / rows_per_band), 3) AS approx_threshold,
       s AS jaccard,
       round(1.0 - pow(1.0 - pow(s, rows_per_band), bands), 4) AS p_candidate
FROM cfg, sims
""",
    tags=("dedup",),
)
def dedup_band_tuning_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design table for a 64-hash MinHash signature: for each
    (bands, rows) factorization, the S-curve candidate probability
    1−(1−s^r)^b at representative Jaccard levels, plus the ~(1/b)^(1/r)
    threshold.  This is the table you consult before picking the band
    layout for a corpus-scale dedup run; pure literal compute, no scan."""
    return spark.sql(
        """
        WITH cfg AS (
          SELECT * FROM VALUES (64, 1), (32, 2), (16, 4), (8, 8), (4, 16),
                               (2, 32), (1, 64) AS t(bands, rows_per_band)
        ),
        sims AS (SELECT explode(array(0.5D, 0.7D, 0.8D, 0.9D, 0.95D)) AS s)
        SELECT bands, rows_per_band,
               round(power(1.0 / bands, 1.0 / rows_per_band), 3) AS approx_threshold,
               s AS jaccard,
               round(1.0 - power(1.0 - power(s, rows_per_band), bands), 4) AS p_candidate
        FROM cfg CROSS JOIN sims
        """
    )
