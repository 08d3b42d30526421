"""Similarity search over embeddings (array<float> column).

Scale design:

* **Brute-force top-k** — the exactness baseline: broadcast the (small)
  query set, scan the corpus once, per-partition top-k via window on the
  query key.  At 100 TB the corpus side stays distributed; cost is one scan
  per query batch.
* **LSH-bucketed ANN** — random-hyperplane signatures (deterministic seeded
  planes) bucket both sides; candidate generation is an equi-join on
  (plane-table signature), probing only matching buckets.  Recall measured
  against brute force in tests/test_similarity_ops.py.
* All dot products run on `double` after an explicit cast from float —
  same promotion DuckDB applies, so results hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import query, views
from parquet_query_spark.operators.dedup import (
    _DUCKDB_REACH,
    _components_output,
    _duckdb_edges,
)

_DIM = 64
N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10


def _as_double(col: str) -> F.Column:
    return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))")


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(F.expr(f"aggregate({a}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v)"))


# Pair math over the ``qv``/``ev`` vector columns as SQL text, one spelling
# per engine.  Distances are ROUNDED to 6dp before any ranking or ratio so
# both engines rank identical values.

_SPARK_SQDIST = (
    "round(aggregate(zip_with(qv, ev, (x, y) -> "
    "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6)"
)

_DUCKDB_SQDIST = """
round(list_sum(list_transform(list_zip(qv, ev), p ->
  (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
  * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6)
"""

_SPARK_COSINE = (
    "round(aggregate(zip_with(qv, ev, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) "
    "/ (sqrt(aggregate(qv, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) "
    "* sqrt(aggregate(ev, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 6)"
)

_DUCKDB_COSINE = """
round(
  list_sum(list_transform(list_zip(qv, ev), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(ev, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
"""


def _fan_out(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to ``defaultParallelism`` when it has fewer
    partitions, else ``df`` itself.

    Pair scoring is compute-bound.  At 100 TB the corpus scan arrives
    with far more splits than cores, but a small corpus file arrives
    row-group-bounded (8 splits for the 33 MB 64x file) and leaves 3/4
    of the machine idle on the dominant stage.  Fan out only in that
    case, so the zero-shuffle shape is what a real cluster runs — the
    vector shuffle this adds is negligible next to the per-pair math."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


@query(
    "knn_bruteforce_cosine",
    oracle=f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
     scored AS (
       SELECT qid, e.vec_id AS neighbor_id,
              {_DUCKDB_COSINE} AS cosine
       FROM q CROSS JOIN (SELECT vec_id, embedding AS ev FROM embeddings) e
       WHERE e.vec_id <> qid
     ),
     ranked AS (
       SELECT qid, neighbor_id, cosine,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rnk
       FROM scored
     )
SELECT qid, neighbor_id, cosine, rnk
FROM ranked WHERE rnk <= {TOP_K}
""",
    tags=("similarity", "bench"),
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast query set × one corpus scan.

    Ranking happens on the *rounded* score with neighbor_id tie-break so the
    result is a total order (cross-engine deterministic)."""
    v = views(spark, sf_dir)
    emb = v["embeddings"]
    q = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv"))
    )
    e = emb.select(F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("ev"))
    # The result is partition-invariant (the per-partition top-K union
    # always contains the global top-K), so the fan-out is safe here.
    e = _fan_out(e)
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("qid"))
        .select(
            "qid",
            "neighbor_id",
            F.round(_dot("qv", "ev") / (_norm("qv") * _norm("ev")), 6).alias("cosine"),
        )
    )
    # Two-phase exact top-k (the TakeOrdered-per-group pattern): rank within
    # (qid, physical partition) first — that shuffle spreads over
    # n_queries × n_partitions keys instead of hot-spotting n_queries keys —
    # then keep ≤ K rows per (qid, partition), so the final per-qid ranking
    # shuffles at most n_partitions × K rows per query instead of the whole
    # scored corpus.  The global top-K is always contained in the union of
    # per-partition top-Ks, and the (cosine DESC, neighbor_id) order is
    # total, so the result is identical to the single-window plan.
    pid = F.spark_partition_id().alias("pid")
    w_part = W.partitionBy("qid", "pid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    partial = (
        scored.select("qid", "neighbor_id", "cosine", pid)
        .withColumn("prnk", F.row_number().over(w_part))
        .where(F.col("prnk") <= TOP_K)
        .drop("pid", "prnk")
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
    )


@query(
    "embedding_label_centroids",
    oracle="""
SELECT label, COUNT(*) AS n,
       round(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS c0,
       round(AVG(CAST(embedding[2] AS DOUBLE)), 6) AS c1,
       round(AVG(CAST(embedding[3] AS DOUBLE)), 6) AS c2,
       round(AVG(CAST(embedding[4] AS DOUBLE)), 6) AS c3
FROM embeddings
GROUP BY label
""",
    tags=("similarity", "aggregate"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (first 4 dims shown) — the reduce step of k-means /
    IVF coarse quantization, expressed as a plain aggregation."""
    v = views(spark, sf_dir)
    emb = v["embeddings"]
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            *[
                F.round(
                    F.avg(F.element_at("embedding", i + 1).cast("double")), 6
                ).alias(f"c{i}")
                for i in range(4)
            ],
        )
    )


@query(
    "embedding_norms",
    oracle="""
SELECT vec_id, label,
       round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)  AS comp_sum,
       round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)  AS comp_max
FROM embeddings
""",
    tags=("similarity", "scalar"),
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector norms/stats via higher-order functions — all JVM-side."""
    v = views(spark, sf_dir)
    d = _as_double("embedding")
    return (
        v["embeddings"]
        .select(
            "vec_id",
            "label",
            F.round(_norm("embedding"), 6).alias("l2_norm"),
            F.round(F.expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE))"), 6).alias("comp_sum"),
            F.round(F.array_max(d), 6).alias("comp_max"),
        )
    )


def _lsh_planes(n_planes: int, dim: int):
    """Deterministic hyperplanes derived from md5 — uniform in [-1, 1].

    md5-derived (not seeded-Gaussian) so the SQL oracle can reproduce the
    exact same planes: plane[p][d] = (int(md5('plane_p_d')[:8hex]) %
    2000001 - 10^6) / 10^6.  For sign-projection LSH any symmetric
    coordinate distribution gives a valid hash family; the recall test
    (tests/test_similarity_ops.py) holds under the uniform planes."""
    import hashlib

    return [
        [
            (
                int(hashlib.md5(f"plane_{p}_{d}".encode()).hexdigest()[:8], 16)
                % 2000001
                - 1000000
            )
            / 1000000.0
            for d in range(1, dim + 1)
        ]
        for p in range(n_planes)
    ]


_DUCKDB_LSH_PLANES = """pl AS (
  SELECT pp.p,
         list_transform(range(1, 65), d ->
           (CAST('0x' || substr(md5('plane_' || CAST(pp.p AS VARCHAR) || '_'
                                    || CAST(d AS VARCHAR)), 1, 8) AS BIGINT)
            % 2000001 - 1000000) / 1000000.0
         ) AS pw
  FROM (SELECT unnest(range(16)) AS p) pp
),
bits AS (
  SELECT e.vec_id, p.p,
         CASE WHEN list_sum(list_transform(list_zip(p.pw, e.embedding),
                     z -> z[1] * CAST(z[2] AS DOUBLE))) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e CROSS JOIN pl p
),
bands AS (
  SELECT vec_id, CAST(p // 4 AS INTEGER) AS band_no,
         SUM(bit * CASE p % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                              WHEN 2 THEN 2 ELSE 1 END) AS band_val
  FROM bits GROUP BY vec_id, p // 4
)"""


@query(
    "ann_lsh_cosine",
    oracle=f"""
WITH {_DUCKDB_LSH_PLANES},
cand AS (
  SELECT DISTINCT qb.vec_id AS qid, b.vec_id AS neighbor_id
  FROM bands qb
  JOIN bands b ON b.band_no = qb.band_no AND b.band_val = qb.band_val
              AND b.vec_id <> qb.vec_id
  WHERE qb.vec_id < {N_QUERIES}
),
scored AS (
  SELECT c.qid, c.neighbor_id, {_DUCKDB_COSINE} AS cosine
  FROM cand c
  JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q ON q.vec_id = c.qid
  JOIN (SELECT vec_id, embedding AS ev FROM embeddings) e ON e.vec_id = c.neighbor_id
),
ranked AS (
  SELECT qid, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT qid, neighbor_id, cosine, rnk
FROM ranked WHERE rnk <= {TOP_K}
""",
    tags=("similarity", "ann"),
)
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH, banded 4 bands x 4 bits.

    Corpus and queries are signed against the same md5-derived planes; a
    candidate is any vector sharing AT LEAST ONE 4-bit band with the query
    (equi-join on (band, value) — at scale, a shuffle on band keys instead
    of an O(n·m) cross join), then exact re-scoring and top-k.  Banding is
    what makes this usable on weakly-correlated corpora: a full 16-bit
    match has ~2^-16 collision odds between unrelated vectors, so it finds
    nothing unless near-duplicates exist; one-of-four 4-bit bands recalls
    moderately-similar neighbors too.  The DuckDB oracle recomputes the
    identical planes, signatures, bands, candidates, and rounded cosine
    ranking in pure SQL (the left-fold list_sum form matches Spark's
    aggregate() summation order — same pattern the green knn oracle
    uses), making the full ANN path hash-verifiable."""
    v = views(spark, sf_dir)
    planes = _lsh_planes(16, _DIM)
    plane_lits = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in planes]
    )
    emb = v["embeddings"].withColumn("_planes", plane_lits)
    bits = F.expr(
        """
        transform(_planes, p ->
          CASE WHEN aggregate(zip_with(p, embedding, (x, y) -> x * CAST(y AS DOUBLE)),
                              CAST(0.0 AS DOUBLE), (a, v) -> a + v) >= 0
               THEN 1 ELSE 0 END)
        """
    )
    # pack each 4-bit run into one band value
    bands = F.expr(
        """
        transform(sequence(0, 3), b ->
          element_at(_bits, b * 4 + 1) * 8 + element_at(_bits, b * 4 + 2) * 4
          + element_at(_bits, b * 4 + 3) * 2 + element_at(_bits, b * 4 + 4))
        """
    )
    signed = (
        emb.withColumn("_bits", bits)
        .select("vec_id", _as_double("embedding").alias("ev"), bands.alias("bands"))
        .withColumn("nrm", _norm("ev"))
    )
    expl = signed.select(
        "vec_id", "ev", "nrm", F.posexplode("bands").alias("band_no", "band_val")
    )
    q = expl.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("ev").alias("qv"),
        F.col("nrm").alias("q_nrm"),
        F.col("band_no").alias("q_band_no"),
        F.col("band_val").alias("q_band_val"),
    )
    # Score INSIDE the join stage, dedup after: a vector matching a query in
    # up to 4 bands recomputes its cosine up to 4× (64 codegen FLOPs per
    # extra hit), but the dropDuplicates exchange then carries 24-byte
    # (qid, neighbor, cosine) rows instead of both 64-double vectors — the
    # payload-rides-the-dedup shape that bent the 4096× point superlinear
    # (~55 GB shuffle at 8.2M vectors; measured 985.7 s pre-fix).  Same
    # class as the r11 fuzzy-join redesign: raw candidates stay transient
    # codegen rows, only slim survivors shuffle.  Per-vector norms fold
    # once before the join (bit-identical rounded cosine).
    cand = (
        expl.join(
            F.broadcast(q),
            (F.col("band_no") == F.col("q_band_no"))
            & (F.col("band_val") == F.col("q_band_val"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot("qv", "ev") / (F.col("q_nrm") * F.col("nrm")), 6
            ).alias("cosine"),
        )
        .dropDuplicates(["qid", "neighbor_id"])
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
    )


@query(
    "embedding_neardup_pairs",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS qv, b.embedding AS ev
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 50 AND b.vec_id < 50
)
SELECT id_a, id_b, {_DUCKDB_COSINE} AS cosine
FROM pairs
WHERE {_DUCKDB_COSINE} >= 0.3
""",
    tags=("similarity", "dedup"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over a bounded sample (the
    unbounded version goes through the LSH bucket join above).

    Threshold 0.3 fits the driver's synthetic embeddings (near-random,
    max pairwise cosine ~0.44): high enough to be selective, low enough
    that the result is non-empty — a 0-row "pass" would prove nothing."""
    v = views(spark, sf_dir)
    sub = v["embeddings"].where(F.col("vec_id") < 50)
    a = sub.select(F.col("vec_id").alias("id_a"), _as_double("embedding").alias("qv"))
    b = sub.select(F.col("vec_id").alias("id_b"), _as_double("embedding").alias("ev"))
    cos = F.round(_dot("qv", "ev") / (_norm("qv") * _norm("ev")), 6)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= 0.3)
    )


@query(
    "embedding_neardup_clusters",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS qv, b.embedding AS ev
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 50 AND b.vec_id < 50
),
verified AS (
  SELECT id_a, id_b FROM pairs WHERE {_DUCKDB_COSINE} >= 0.3
),
{_duckdb_edges("verified", "id_a", "id_b")},
{_DUCKDB_REACH}
SELECT vec_id, component_id,
       COUNT(*) OVER (PARTITION BY component_id) AS component_size
FROM (SELECT root AS vec_id, MIN(node) AS component_id FROM reach GROUP BY root)
""",
    tags=("similarity", "dedup", "iterative"),
)
def embedding_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate CLUSTERS: cosine-threshold pairs → connected
    components (same min-label propagation as the text dedup path —
    `operators.dedup._components_output` — one CC implementation serves
    every edge source).

    Pairs here come from the bounded exact-cosine sample so the recursive-
    CTE oracle can verify the closure; at 100 TB the edge list comes from
    the LSH bucket join (`ann_lsh_cosine`) and this composition is
    unchanged — exactly mirroring how `dedup_cluster_pipeline` swaps the
    bounded all-pairs edges of `dedup_connected_components` for LSH
    candidates."""
    pairs = embedding_neardup_pairs(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return _components_output(pairs).withColumnRenamed("doc_id", "vec_id")


N_IVF_QUERIES = 10
IVF_NPROBE = 3
IVF_TOP_K = 5


def _assign_cells_scanside(emb: DataFrame, cent_rows) -> DataFrame:
    """Nearest-cell assignment (max rounded cosine, min label on ties) as a
    scan-side fold over the K collected centroids.

    Replaces the crossJoin(broadcast(cent)) + row_number()-over-vec_id
    shape: the window's partitionBy(vec_id) shuffled corpus × K rows WITH
    the 64-double vectors riding along just to pick an argmax — measured
    88.6 MB shuffle write at a 128k-vector corpus (≈10× corpus bytes at
    any scale).  Collecting the K×dim centroid table (bounded — K is the
    label count here, the same transfer _km_cent_lit already makes for the
    PQ codebook) lets the argmax fold inside the scan: zero shuffle, one
    pass.  -round(sim, 6) is the exact negation of the window's rounded
    sort key, so ascending (nsim, label) picks the identical cell and the
    DuckDB oracle hash is unchanged."""
    # try_divide + coalesce(…, 1.0): a zero-norm (degenerate) centroid
    # makes the cosine a division by zero — under ANSI (Spark 4 default)
    # a hard error, under non-ANSI a NULL that array_sort orders FIRST
    # ascending so the degenerate centroid would WIN the argmax — where
    # the replaced window (desc sim, NULLS LAST) made it lose.  try_divide
    # yields NULL instead of throwing and the coalesce pins nsim to +1
    # (cosine -1), restoring the nulls-lose semantics (ADVICE r12);
    # non-degenerate inputs are arithmetically untouched.
    #
    # Zero-norm DOCUMENT corner (ADVICE r13, adjudicated r14): when ev
    # itself has zero norm, EVERY centroid's cosine is undefined, all
    # nsim coalesce to the same sentinel, and the lowest cid wins the
    # tie — including a degenerate centroid if it has the lowest cid.
    # That is deliberate: with a degenerate document no argmax is more
    # "right" than another, the lowest-label tie-break is exactly what
    # the replaced window form produced for an all-NULL sim column
    # (row_number over (sim DESC NULLS LAST, label) degenerates to label
    # order), and swapping in a worse-than-any-real sentinel + max-cid
    # tie-break would silently diverge from the window form and the
    # oracle's rank semantics.  Pinned in
    # tests/test_similarity_ops.py::test_zero_norm_document_assigns_lowest_label.
    best = F.expr(
        """
        array_sort(transform(_cents, ct -> named_struct(
          'nsim', coalesce(
                 -round(try_divide(
                    aggregate(zip_with(ev, ct.c, (x, y) -> x * y),
                              CAST(0.0 AS DOUBLE), (a, v) -> a + v),
                    sqrt(aggregate(ev, CAST(0.0 AS DOUBLE), (a, v) -> a + v * v))
                    * sqrt(aggregate(ct.c, CAST(0.0 AS DOUBLE), (a, v) -> a + v * v))),
                 6), CAST(1.0 AS DOUBLE)),
          'lab', ct.cid)))[0].lab
        """
    )
    return _fan_out(emb).withColumn("_cents", _km_cent_lit(cent_rows)).select(
        "vec_id", "ev", best.alias("c_label")
    )

# Cosine between two already-double lists (DuckDB side), rounded for
# cross-engine determinism.
_DUCKDB_COSINE_RAW = """
round(
  list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))
  / (sqrt(list_sum(list_transform({a}, x -> x * x)))
     * sqrt(list_sum(list_transform({b}, x -> x * x)))), 6)
"""


@query(
    "ann_ivf_cosine",
    oracle=f"""
WITH cent_elems AS (
  SELECT label, i,
         round(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS v
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
  GROUP BY label, i
),
cent AS (
  SELECT label, list(v ORDER BY i) AS cv FROM cent_elems GROUP BY label
),
assigned AS (
  SELECT vec_id, ev, c_label FROM (
    SELECT e.vec_id, e.ev, c.label AS c_label,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_DUCKDB_COSINE_RAW.format(a="e.ev", b="c.cv")} DESC, c.label) AS rn
    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
          FROM embeddings) e
    CROSS JOIN cent c
  ) WHERE rn = 1
),
probes AS (
  SELECT qid, qv, c_label FROM (
    SELECT q.vec_id AS qid, q.qv, c.label AS c_label,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_DUCKDB_COSINE_RAW.format(a="q.qv", b="c.cv")} DESC, c.label) AS rn
    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id < {N_IVF_QUERIES}) q
    CROSS JOIN cent c
  ) WHERE rn <= {IVF_NPROBE}
),
scored AS (
  SELECT p.qid, a.vec_id AS neighbor_id,
         {_DUCKDB_COSINE_RAW.format(a="p.qv", b="a.ev")} AS cosine
  FROM probes p JOIN assigned a ON a.c_label = p.c_label
  WHERE a.vec_id <> p.qid
)
SELECT qid, neighbor_id, cosine, rnk FROM (
  SELECT qid, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= {IVF_TOP_K}
""",
    tags=("similarity", "ann"),
)
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into label-centroid cells,
    probe only the NPROBE nearest cells per query.

    The scale story vs. brute force: the corpus is scanned ONCE to assign
    cells (a map-side job against a broadcast centroid table, ~K·d flops per
    row), and each query then touches ~NPROBE/K of the corpus.  Centroids
    here are deterministic per-label means (rounded to 6 dp so both engines
    quantize identically); production would k-means them — the plan shape is
    unchanged.  Cell assignment is a broadcast join, candidate scoring
    shuffles only on cell id."""
    v = views(spark, sf_dir)
    emb = v["embeddings"].select(
        "vec_id", "label", _as_double("embedding").alias("ev")
    )

    # centroids: element-wise mean per label (posexplode → avg → re-assemble)
    cent = (
        emb.select("label", F.posexplode("ev").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("v"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
            ).alias("cv")
        )
        .select(F.col("label").alias("c_label"), "cv")
    )

    assigned = _assign_cells_scanside(emb, sorted(
        (r.c_label, list(r.cv)) for r in cent.collect()
    ))

    q = emb.where(F.col("vec_id") < N_IVF_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qv")
    )
    cos_q = F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6)
    w_probe = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("c_label"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qv", "c_label", cos_q.alias("sim"))
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= IVF_NPROBE)
        .select("qid", "qv", "c_label")
    )

    scored = (
        assigned.join(F.broadcast(probes), "c_label")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot("qv", "ev") / (_norm("qv") * _norm("ev")), 6).alias("cosine"),
        )
    )
    w_rank = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= IVF_TOP_K)
    )


@query(
    "embedding_quantize_int8",
    oracle="""
WITH dims AS (
  SELECT unnest(range(1, 65)) AS idx
),
vals AS (
  SELECT e.vec_id, d.idx, CAST(list_extract(e.embedding, d.idx) AS DOUBLE) AS val
  FROM embeddings e CROSS JOIN dims d
),
ranges AS (
  SELECT idx, MIN(val) AS dmin, MAX(val) AS dmax FROM vals GROUP BY idx
),
codes AS (
  SELECT v.vec_id,
         CAST(floor((v.val - r.dmin) / (r.dmax - r.dmin) * 255.0 + 0.5) AS BIGINT) AS code,
         v.val,
         r.dmin + CAST(floor((v.val - r.dmin) / (r.dmax - r.dmin) * 255.0 + 0.5) AS BIGINT)
               * (r.dmax - r.dmin) / 255.0 AS dequant
  FROM vals v JOIN ranges r ON v.idx = r.idx
)
SELECT vec_id,
       COUNT(*)                 AS n_dims,
       CAST(SUM(code) AS BIGINT)  AS qsum,
       MIN(code)::INTEGER       AS qmin,
       MAX(code)::INTEGER       AS qmax,
       CAST(SUM(CAST(floor(abs(dequant - val) * 1e9 + 0.5) AS BIGINT))
            AS BIGINT) AS err_nano_sum
FROM codes
GROUP BY vec_id
""",
    tags=("similarity", "quantize"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column — the compression
    step that shrinks a 100 TB float32 vector corpus 4× before ANN
    serving.  Per-dimension min/max ranges come from one explode +
    64-group aggregation (map-side combinable, tiny result broadcast back)
    and each vector's codes are computed scan-side; the output summarizes
    code range and reconstruction error per vector so the whole
    quantize→dequantize loop is oracle-verified.

    floor(x+0.5) is used instead of round() for the code assignment —
    identical on both engines (round() half-rule on doubles is
    engine-dependent).  Reconstruction error is reported as an exact
    BIGINT sum of per-element nano-unit errors: each element's
    abs(dequant - val) is a bit-identical IEEE double in both engines,
    quantized to an integer BEFORE summing, so the comparison is immune
    to float summation order (a plain AVG hash-mismatched in the driver
    once: DuckDB's parallel aggregate sums group members in
    nondeterministic order, flipping the last rounded digit).

    Plan shape: the only shuffle is the 64-row range aggregation
    (map-side combinable min/max); the ranges come back as two 64-element
    broadcast arrays and every vector's codes + error stats are computed
    scan-side with array expressions — no per-element row explosion ever
    transits a shuffle, so at 100 TB this is one pass to build ranges and
    one pass to quantize."""
    v = views(spark, sf_dir)
    vals = v["embeddings"].select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("idx0", "fval"),
    ).select(
        (F.col("idx0") + 1).alias("idx"),
        F.col("fval").cast("double").alias("val"),
    )
    ranges = (
        vals.groupBy("idx")
        .agg(F.min("val").alias("dmin"), F.max("val").alias("dmax"))
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(idx, dmin))), s -> s.dmin)"
            ).alias("dmins"),
            F.expr(
                "transform(sort_array(collect_list(struct(idx, dmax))), s -> s.dmax)"
            ).alias("dmaxs"),
        )
    )
    per_vec = v["embeddings"].crossJoin(F.broadcast(ranges)).select(
        "vec_id",
        F.expr(
            """
            transform(sequence(1, size(embedding)), i ->
              CAST(floor((CAST(element_at(embedding, i) AS DOUBLE) - element_at(dmins, i))
                         / (element_at(dmaxs, i) - element_at(dmins, i)) * 255.0 + 0.5)
                   AS BIGINT))
            """
        ).alias("codes"),
        F.expr(
            """
            transform(sequence(1, size(embedding)), i ->
              abs(element_at(dmins, i)
                  + CAST(floor((CAST(element_at(embedding, i) AS DOUBLE) - element_at(dmins, i))
                               / (element_at(dmaxs, i) - element_at(dmins, i)) * 255.0 + 0.5)
                         AS BIGINT)
                    * (element_at(dmaxs, i) - element_at(dmins, i)) / 255.0
                  - CAST(element_at(embedding, i) AS DOUBLE)))
            """
        ).alias("errs"),
    )
    return (
        per_vec.select(
            "vec_id",
            F.size("codes").cast("bigint").alias("n_dims"),
            F.expr("aggregate(codes, CAST(0 AS BIGINT), (a, c) -> a + c)").alias("qsum"),
            F.array_min("codes").cast("int").alias("qmin"),
            F.array_max("codes").cast("int").alias("qmax"),
            F.expr(
                "aggregate(transform(errs, e -> CAST(floor(e * 1e9 + 0.5) AS BIGINT)),"
                " CAST(0 AS BIGINT), (a, e) -> a + e)"
            ).alias("err_nano_sum"),
        )
    )


# ── k-means + SemDeDup ─────────────────────────────────────────────────────

_KM_K = 8        # clusters; init = embeddings of vec_id < K
_KM_UPDATES = 2  # Lloyd centroid updates (then one final assignment)
_SEMDEDUP_TAU = 0.35  # within-cluster cosine above this = semantic duplicate


def _km_cent_lit(cent_rows: list[tuple[int, list[float]]]) -> F.Column:
    """K collected centroids as a literal array<struct<cid,c>> column —
    K·dim doubles, the thing Lloyd's on Spark ships to executors each
    round (MLlib does the same; centroids are bounded, the corpus isn't)."""
    return F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(float(x)) for x in c]).alias("c"),
            )
            for cid, c in cent_rows
        ]
    )


def _km_assign(emb: DataFrame, cent_rows: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid assignment computed entirely scan-side: per row,
    fold squared distance to each literal centroid (index-order left fold —
    the same summation order as DuckDB's list_sum, so rounded values
    hash-match) and take the (dist2, cid)-lexicographic minimum.  No join,
    no shuffle — the corpus never moves."""
    best = F.expr(
        """
        array_sort(transform(_cents, ct -> named_struct(
          'dist2', round(aggregate(zip_with(ev, ct.c, (x, y) -> (x - y) * (x - y)),
                                   CAST(0.0 AS DOUBLE), (a, v) -> a + v), 6),
          'cid', ct.cid)))[0]
        """
    )
    return (
        emb.withColumn("_cents", _km_cent_lit(cent_rows))
        .withColumn("_best", best)
        .select(
            "vec_id",
            "ev",
            F.col("_best.cid").alias("cid"),
            F.col("_best.dist2").alias("dist2"),
        )
    )


def _km_update_rows(assign: DataFrame) -> list[tuple[int, list[float]]]:
    """Recompute centroids as the per-dimension member mean (rounded to 6dp
    on both engines so FP summation order can't diverge the oracle) and
    collect them — K·dim values, the one driver-side transfer per round."""
    cd = (
        assign.select("cid", F.posexplode("ev").alias("d", "x"))
        .groupBy("cid", "d")
        .agg(F.round(F.avg("x"), 6).alias("cx"))
    )
    c = cd.groupBy("cid").agg(
        F.expr("transform(array_sort(collect_list(struct(d, cx))), s -> s.cx)").alias("c")
    )
    return sorted((r.cid, list(r.c)) for r in c.collect())


_KM_SMALL_N = 2000          # <= this many vectors: the fixed-K literal path
_KM_TARGET_CLUSTER = 512    # adaptive regime: K grows so clusters stay ~this
_KM_TWO_LEVEL_K = 1024      # >= this many centroids: pruned two-level assignment
# Hard cap on the adaptive K (r14, VERDICT r13 #3): the centroid state is
# driver-collected and broadcast, so it MUST be bounded independent of
# corpus size.  Memory arithmetic at _DIM=64 float64: one centroid costs
# (dim + 2) × 8 ≈ 528 B in the (cids, cmat, c2) broadcast plus ~at most
# the same again for the two-level super-pack views, so K = 2^20 bounds
# the broadcast at ~0.55 GB (≲ 1.1 GB with pack) — comfortably under the
# driver/executor heap and Spark's 8 GB broadcast relation cap.  The cap
# engages at n > _KM_MAX_K × _KM_TARGET_CLUSTER ≈ 5.4 × 10^8 vectors
# (≈ 0.14 PB of raw 64-d float64 corpus); beyond it mean cluster size
# grows as n / _KM_MAX_K and the within-cluster gram cost per cluster
# grows quadratically — shard the corpus into ≤ ~5×10^8-vector k-means
# domains (or distribute the refresh) past that point.  See BASELINE.md.
_KM_MAX_K = 1 << 20


def _km_k_eff(n: int) -> int:
    """Adaptive cluster count for an n-vector corpus: clusters stay near
    _KM_TARGET_CLUSTER members, bounded by the broadcast-memory cap."""
    return min(max(_KM_K, -(-n // _KM_TARGET_CLUSTER)), _KM_MAX_K)


def _km_super_pack(cmat, c2):
    """Driver-side prep for the two-level assignment: group the K centroids
    into S = ceil(sqrt(K)) super-cells with a small deterministic numpy
    Lloyd over the CENTROIDS (init = first S rows in cid order, 4 updates),
    and record per super-cell its member centroid indices (cid-ascending),
    super-centroid, and covering radius r_s = max ||c - sc||.

    With K = N/512 the flat kernel's per-row cost is K dot products —
    N²/512 FLOPs corpus-wide, the named 512→4096× bottleneck (BASELINE.md
    r12 ANN section).  The two-level shape is the IMI/hierarchical-kmeans
    layout: per row ~S super-cell distances + the few cells whose triangle
    bound survives, ~N·√K instead of N·K, while staying EXACT (see
    _km_assign_chunk_pruned)."""
    import numpy as np

    K = len(cmat)
    S = int(np.ceil(np.sqrt(K)))
    sc = cmat[:S].copy()
    for _ in range(4):
        d = c2[:, None] - 2.0 * (cmat @ sc.T) + (sc * sc).sum(axis=1)[None, :]
        a = d.argmin(axis=1)
        for s in range(S):
            m = a == s
            if m.any():
                sc[s] = cmat[m].mean(axis=0)
    d = c2[:, None] - 2.0 * (cmat @ sc.T) + (sc * sc).sum(axis=1)[None, :]
    a = d.argmin(axis=1)
    members = [np.flatnonzero(a == s) for s in range(S)]
    radii = np.zeros(S)
    for s, mem in enumerate(members):
        if len(mem):
            radii[s] = np.sqrt(
                np.maximum(((cmat[mem] - sc[s]) ** 2).sum(axis=1), 0.0)
            ).max()
    return sc, (sc * sc).sum(axis=1), members, radii


def _km_assign_chunk_flat(x, cmat, c2):
    """Exact nearest-centroid for a row chunk: full n x K distance matrix,
    round-to-6 then first-min (columns are cid-ascending, so this follows
    the (dist2, cid) lexicographic min of the expression path — pinned
    equivalent at small N by the forced-kernel tests; see the rounding-
    rule caveat at the _km_assign_np call site)."""
    import numpy as np

    d = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ cmat.T) + c2[None, :]
    d = np.round(np.maximum(d, 0.0), 6)
    best = d.argmin(axis=1)
    return best, d[np.arange(len(best)), best]


def _km_assign_chunk_pruned(x, cmat, c2, sc, s2, members, radii):
    """Exact nearest-centroid via super-cell triangle pruning: for any
    centroid c in super-cell s, ||x-c|| >= ||x-sc_s|| - r_s, so a cell
    whose squared lower bound exceeds the row's current best (+1e-6 slack
    for the round-to-6 comparison) cannot produce the winner.  Sweep 1
    seeds each row from its nearest super-cell; sweep 2 visits only
    surviving cells.  Ties break identically to the flat kernel: rounded
    dist2 then cid (member index order IS cid order)."""
    import numpy as np

    n = len(x)
    x2 = (x * x).sum(axis=1)
    ds2 = x2[:, None] - 2.0 * (x @ sc.T) + s2[None, :]
    ds2 = np.maximum(ds2, 0.0)
    empty = np.array([len(m) == 0 for m in members])
    if empty.any():
        ds2[:, empty] = np.inf
    lb = np.maximum(np.sqrt(ds2) - radii[None, :], 0.0)
    lb2 = lb * lb
    primary = ds2.argmin(axis=1)
    best_d = np.full(n, np.inf)
    best_j = np.zeros(n, dtype=np.int64)
    for phase in (0, 1):
        for s, mem in enumerate(members):
            if len(mem) == 0:
                continue
            if phase == 0:
                rows = np.flatnonzero(primary == s)
            else:
                rows = np.flatnonzero((primary != s) & (lb2[:, s] <= best_d + 1e-6))
            if len(rows) == 0:
                continue
            sub = x[rows]
            d = x2[rows][:, None] - 2.0 * (sub @ cmat[mem].T) + c2[mem][None, :]
            d = np.round(np.maximum(d, 0.0), 6)
            loc = d.argmin(axis=1)
            dr = d[np.arange(len(rows)), loc]
            j = mem[loc]
            upd = (dr < best_d[rows]) | ((dr == best_d[rows]) & (j < best_j[rows]))
            ridx = rows[upd]
            best_d[ridx] = dr[upd]
            best_j[ridx] = j[upd]
    return best_j, best_d


_KM_LIVE_BC: list = []  # broadcasts created by _km_assign_np, oldest first


def _km_release_broadcasts(keep_last: int = 0) -> None:
    """Unpersist all but the newest ``keep_last`` tracked centroid
    broadcasts (executor copies only — a later re-use re-fetches from the
    driver, so this is safe even if a released DataFrame is re-run)."""
    while len(_KM_LIVE_BC) > keep_last:
        try:
            _KM_LIVE_BC.pop(0).unpersist()
        except Exception:
            pass


def _km_assign_np(
    spark: SparkSession, emb: DataFrame, cent_rows: list[tuple[int, list[float]]]
) -> DataFrame:
    """Nearest-centroid assignment for the adaptive-K regime: broadcast the
    K x dim centroid matrix once and score each Arrow batch with a single
    numpy matmul (||x-c||^2 = ||x||^2 - 2 x.C^T + ||c||^2), argmin with the
    same (rounded dist2, cid) lexicographic tie-break as the
    literal-expression path.  _km_assign unrolls K centroids into the plan
    — perfect at K=8, pathological at K=2000 (codegen blowup, one fold per
    centroid); this is the MLlib-style broadcast+vectorized alternative the
    docstrings promise for 100 TB.  The corpus still never shuffles: one
    scan, one Arrow pass, K·dim broadcast bytes."""
    import numpy as np
    import pandas as pd

    cids = np.array([c for c, _ in sorted(cent_rows)], dtype=np.int64)
    cmat = np.array([v for _, v in sorted(cent_rows)], dtype=np.float64)
    c2 = (cmat * cmat).sum(axis=1)
    # Rounding first follows the (dist2, cid) lexicographic min of the
    # expression path's array_sort.  NOTE the kernels use np.round
    # (half-to-even) on the expanded ||x||²-2xC+||c||² form while the
    # expression path applies Spark round (HALF_UP) to a left-fold sum of
    # squares — equivalence is PINNED at small N by the forced-kernel
    # tests, not bit-guaranteed: a value landing exactly on a 5e-7
    # rounding boundary (or a last-ulp difference between the two
    # summation orders) could flip an argmin (ADVICE r12).
    pack = _km_super_pack(cmat, c2) if len(cids) >= _KM_TWO_LEVEL_K else None
    bc = spark.sparkContext.broadcast((cids, cmat, c2, pack))
    # Track the broadcast so the Lloyd loop can unpersist superseded
    # iterations — one K×dim block per assignment call otherwise
    # accumulates on driver + executors across iterations and repeated
    # catalog runs (ADVICE r12).  unpersist() is recoverable (the driver
    # re-ships on demand), so releasing is always safe.
    _KM_LIVE_BC.append(bc)

    def assign(batches):
        b_cids, b_c, b_c2, b_pack = bc.value
        # Chunk rows so the per-chunk distance matrices stay ~64 MB: a
        # full 10k-row Arrow batch against K=16k centroids is a 1.3 GB
        # float64 matrix PER WORKER (x32 workers = box-crushing) — the
        # stall that killed the first 4096x attempt.  The pruned kernel's
        # biggest matrices are n x S and n x max-cell, so its chunks can
        # be proportionally larger.
        if b_pack is not None:
            b_sc, b_s2, b_mem, b_rad = b_pack
            width = len(b_sc) + max((len(m) for m in b_mem), default=1)
        else:
            width = len(b_cids)
        n_chunk = max(1, (8 << 20) // max(1, width))
        for pdf in batches:
            for lo in range(0, len(pdf), n_chunk):
                sub = pdf.iloc[lo : lo + n_chunk]
                if len(sub) == 0:
                    continue
                x = np.array(sub["ev"].tolist(), dtype=np.float64)
                if b_pack is not None:
                    best, dist2 = _km_assign_chunk_pruned(
                        x, b_c, b_c2, b_sc, b_s2, b_mem, b_rad
                    )
                else:
                    best, dist2 = _km_assign_chunk_flat(x, b_c, b_c2)
                yield pd.DataFrame(
                    {
                        "vec_id": sub["vec_id"].to_numpy(),
                        "ev": sub["ev"],
                        "cid": b_cids[best].astype(np.int32),
                        "dist2": dist2,
                    }
                )

    return emb.mapInPandas(
        assign, "vec_id bigint, ev array<double>, cid int, dist2 double"
    )


def _km_final_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd state shared by kmeans_embeddings / semdedup.

    Two regimes, switched on corpus size so the driver-oracle (sf0.01,
    n=200) and bench (sf0.1, n=2000) behavior is byte-identical to the
    pre-adaptive engine:

    * n <= _KM_SMALL_N: K = _KM_K literal centroids folded scan-side.
    * n  > _KM_SMALL_N: K = max(_KM_K, ceil(n / _KM_TARGET_CLUSTER)),
      capped at _KM_MAX_K so the driver-collected/broadcast centroid
      state stays bounded at any corpus size (see the cap's memory
      arithmetic) — the
      SemDeDup regime (Abbas et al. 2023 scale K with the corpus so
      clusters stay bounded); with K fixed, within-cluster pair joins grow
      (n/K)^2 and the prune both explodes in cost and degenerates in
      meaning (every vector has SOME tau-neighbor in a 100k-sized
      cluster).  Assignment switches to the broadcast-numpy kernel —
      cluster size, and therefore pair-join task size, stays ~constant as
      the corpus grows."""
    v = views(spark, sf_dir)
    emb = v["embeddings"].select("vec_id", _as_double("embedding").alias("ev"))
    n = emb.count()
    if n <= _KM_SMALL_N:
        k_eff, assign_fn = _KM_K, _km_assign
    else:
        k_eff = _km_k_eff(n)  # capped — see _KM_MAX_K memory arithmetic
        assign_fn = lambda e, c: _km_assign_np(spark, e, c)  # noqa: E731
    init = sorted(
        (r.cid, list(r.c))
        for r in emb.where(F.col("vec_id") < k_eff)
        .select(F.col("vec_id").alias("cid"), F.col("ev").alias("c"))
        .collect()
    )
    # Release any centroid broadcasts left from previous catalog runs —
    # their DataFrames, if re-run, re-fetch from the driver (ADVICE r12).
    _km_release_broadcasts()
    assign = assign_fn(emb, init)
    for _ in range(_KM_UPDATES):
        rows = _km_update_rows(assign)  # materializes the previous round
        _km_release_broadcasts()        # its broadcast is now superseded
        assign = assign_fn(emb, rows)
    return assign


def _km_oracle_ctes() -> str:
    """Unrolled Lloyd iterations as DuckDB CTEs (a0 .. a{UPDATES})."""
    parts = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, ev AS c FROM e WHERE vec_id < {_KM_K})",
    ]
    for i in range(_KM_UPDATES + 1):
        parts.append(f"""s{i} AS (
  SELECT vec_id, ev, cid,
         round(list_sum(list_transform(list_zip(ev, c), p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist2
  FROM e CROSS JOIN c{i}
)""")
        parts.append(f"""a{i} AS (
  SELECT vec_id, ev, cid, dist2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rnk FROM s{i}
  ) WHERE rnk = 1
)""")
        if i < _KM_UPDATES:
            parts.append(f"""u{i + 1} AS (
  SELECT cid, d, round(avg(ev[CAST(d AS INTEGER) + 1]), 6) AS cx
  FROM a{i} CROSS JOIN range({_DIM}) t(d)
  GROUP BY cid, d
)""")
            parts.append(
                f"c{i + 1} AS (SELECT cid, list(cx ORDER BY d) AS c FROM u{i + 1} GROUP BY cid)"
            )
    return ",\n".join(parts)


@query(
    "kmeans_embeddings",
    oracle=f"""
WITH {_km_oracle_ctes()}
SELECT vec_id, cid AS cluster, dist2
FROM a{_KM_UPDATES}
""",
    tags=("similarity", "clustering"),
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column: deterministic
    init (the K lowest vec_ids), _KM_UPDATES centroid updates, final
    assignment.  The coarse quantizer behind IVF-ANN and the clustering
    stage of SemDeDup.

    Scale shape: each iteration is one corpus scan × BROADCAST of K
    centroids (K rows — never a shuffle of the corpus), an argmin via
    per-vec_id window on (rounded dist, cid), and a centroid update that
    shuffles only (cid, dim, partial-mean) — 100 TB iterates at scan cost.
    Distances and means are rounded to 6dp on both engines, making the
    full iterative algorithm hash-verifiable against the unrolled-SQL
    oracle (left-fold summation order matches DuckDB's list_sum)."""
    assign = _km_final_assign(spark, sf_dir)
    return assign.select("vec_id", F.col("cid").alias("cluster"), "dist2")


@query(
    "semdedup_prune",
    oracle=f"""
WITH {_km_oracle_ctes()},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(list_zip(a.ev, b.ev), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.ev, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.ev, x -> x * x)))), 6) AS cosine
  FROM a{_KM_UPDATES} a JOIN a{_KM_UPDATES} b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
),
dropped AS (SELECT DISTINCT id_b FROM pairs WHERE cosine >= {_SEMDEDUP_TAU})
SELECT f.vec_id, f.cid AS cluster
FROM a{_KM_UPDATES} f LEFT JOIN dropped d ON f.vec_id = d.id_b
WHERE d.id_b IS NULL
""",
    tags=("similarity", "dedup", "clustering"),
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with k-means, then
    within each cluster drop every vector that has a semantic duplicate
    (cosine >= _SEMDEDUP_TAU) with a lower vec_id — keeping one
    representative per near-duplicate group.  Output: the surviving corpus.

    Scale shape: the O(n²) similarity search is confined WITHIN clusters —
    the equi-join on cluster id shuffles each cluster to one place and
    compares members only (SemDeDup's entire point vs global pair
    enumeration); the drop set re-joins by vec_id (slim keys).  At 100 TB
    raise K so clusters stay executor-sized (n/K² pairs per cluster).

    The assignment feeds three plan branches (both join sides + the final
    anti-join probe); a localCheckpoint materializes it once instead of
    re-running the scan-side argmin per branch.

    Each vector's norm is folded ONCE before the pair join (sqrt of the
    same left-fold, so the rounded cosine is bit-identical to folding it
    per pair) — inside the join each of the ~(cluster_size²/2) candidate
    rows then costs one dot fold instead of dot + two norm folds, a ~3×
    FLOP cut on the dominant stage.

    Above _KM_SMALL_N vectors the pair stage switches to a per-cluster
    numpy gram matrix (applyInPandas over cid): Spark's aggregate/zip_with
    are CodegenFallback — INTERPRETED per row — so the pushed-down cosine
    predicate cost ~µs × (cluster²/2) pairs; at 8.2M vectors (2×10⁹ raw
    pairs) the join stage sat at 100% JVM CPU for 20+ minutes, while a
    ~512-row cluster's gram is one 2 MB dgemm.  One shuffle on cid either
    way; the anti-join disappears (survivors come straight out of the
    group kernel).  Equivalence with the JVM join path is pinned at small
    N alongside the assignment-kernel pin."""
    v = views(spark, sf_dir)
    if v["embeddings"].count() > _KM_SMALL_N:
        import numpy as np
        import pandas as pd

        tau = _SEMDEDUP_TAU

        def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
            order = pdf["vec_id"].to_numpy().argsort()
            ids = pdf["vec_id"].to_numpy()[order]
            x = np.array(pdf["ev"].to_numpy()[order].tolist(), dtype=np.float64)
            nrm = np.sqrt((x * x).sum(axis=1))
            dropped = np.zeros(len(ids), dtype=bool)
            cols = np.arange(len(ids))[None, :]
            # row-chunk the gram so a hot cluster can't blow memory
            for lo in range(0, len(ids), 1024):
                hi = min(lo + 1024, len(ids))
                g = np.round(
                    (x[lo:hi] @ x.T) / np.outer(nrm[lo:hi], nrm), 6
                )
                # j is dropped if ANY i < j (vec_id order) has g[i,j] >= tau
                m = (g >= tau) & (cols > (lo + np.arange(hi - lo))[:, None])
                dropped |= m.any(axis=0)
            keep = ~dropped
            return pd.DataFrame(
                {
                    "vec_id": ids[keep],
                    "cluster": pdf["cid"].to_numpy()[order][keep],
                }
            )

        return (
            _km_final_assign(spark, sf_dir)
            .groupBy("cid")
            .applyInPandas(prune, "vec_id bigint, cluster int")
        )

    assign = (
        _km_final_assign(spark, sf_dir)
        .withColumn("nrm", _norm("ev"))
        .localCheckpoint(eager=True)
    )
    a = assign.select(
        "cid",
        F.col("vec_id").alias("id_a"),
        F.col("ev").alias("qv"),
        F.col("nrm").alias("nrm_a"),
    )
    b = assign.select(
        "cid",
        F.col("vec_id").alias("id_b"),
        F.col("ev").alias("ev"),
        F.col("nrm").alias("nrm_b"),
    )
    pairs = (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_b",
            F.round(
                _dot("qv", "ev") / (F.col("nrm_a") * F.col("nrm_b")), 6
            ).alias("cosine"),
        )
    )
    dropped = pairs.where(F.col("cosine") >= _SEMDEDUP_TAU).select("id_b").distinct()
    return (
        assign.join(dropped, assign["vec_id"] == dropped["id_b"], "left_anti")
        .select("vec_id", F.col("cid").alias("cluster"))
    )


# ── product quantization + random projection ───────────────────────────────

_PQ_M = 8      # subspaces
_PQ_DSUB = _DIM // _PQ_M  # dims per subspace
_PQ_K = 16     # codebook entries per subspace; init = embeddings of vec_id < K
_PQ_CB_CACHE: dict = {}


def _pq_oracle() -> str:
    code_cols = ",\n       ".join(
        f"CAST(MAX(CASE WHEN m = {m} THEN cid END) AS INTEGER) AS code_{m}"
        for m in range(_PQ_M)
    )
    dist_chain = " + ".join(
        f"MAX(CASE WHEN m = {m} THEN dist2 END)" for m in range(_PQ_M)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings
),
cb AS (SELECT vec_id AS cid, ev AS c FROM e WHERE vec_id < {_PQ_K}),
sub AS (
  SELECT e.vec_id, t.m, cb.cid,
         round(list_sum(list_transform(range(1, {_PQ_DSUB + 1}), d ->
           (e.ev[CAST(t.m * {_PQ_DSUB} + d AS INTEGER)]
            - cb.c[CAST(t.m * {_PQ_DSUB} + d AS INTEGER)])
           * (e.ev[CAST(t.m * {_PQ_DSUB} + d AS INTEGER)]
              - cb.c[CAST(t.m * {_PQ_DSUB} + d AS INTEGER)]))), 6) AS dist2
  FROM e CROSS JOIN range({_PQ_M}) t(m) CROSS JOIN cb
),
best AS (
  SELECT vec_id, m, cid, dist2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist2, cid) AS rnk
    FROM sub
  ) WHERE rnk = 1
)
SELECT vec_id,
       {code_cols},
       round({dist_chain}, 6) AS distortion
FROM best
GROUP BY vec_id
"""


@query(
    "embedding_pq_codes",
    oracle=_pq_oracle(),
    tags=("similarity", "quantize", "ann", "bench"),
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each 64-d vector
    into 8 subspaces of 8 dims, encode each subspace as the id of its
    nearest codebook centroid — 8 small codes replace 64 floats, the
    compression behind IVFPQ-style ANN serving.  Codebook init is
    deterministic (subvectors of the K lowest vec_ids); output is the code
    per subspace plus total quantization distortion.

    Scale shape: the codebook is K full-width rows collected once and
    shipped inside the encoder closure (exactly the k-means centroid
    pattern — bounded, never a corpus shuffle); every vector's 8 argmins
    are computed in a numpy-vectorized mapInPandas pass, so encoding
    100 TB is one Arrow-batched scan with zero joins.  (The previous
    scan-side array-expression form was plan-equivalent but ran in
    Catalyst's interpreted higher-order-function path — ~4x slower per
    core; same lesson as dedup_simhash.)  Determinism is preserved
    bit-for-bit: per-subspace distances accumulate in the oracle's exact
    left-fold order (explicit sequential adds, never np.sum's pairwise
    tree), round via the floor(x * 1e6 + 0.5) / 1e6 formula DuckDB's
    round() computes, and np.argmin's first-minimum rule IS the
    (dist2, cid) tie-break because codebook index equals cid."""
    import numpy as np

    from pyspark.sql import types as T

    v = views(spark, sf_dir)
    emb = v["embeddings"].select("vec_id", _as_double("embedding").alias("ev"))
    # The codebook is a static model artifact — collect it once per
    # (session, dir) instead of running a collect job on every encode call.
    cb_key = (id(spark), sf_dir)
    if cb_key not in _PQ_CB_CACHE:
        _PQ_CB_CACHE[cb_key] = sorted(
            (r.cid, list(r.c))
            for r in emb.where(F.col("vec_id") < _PQ_K)
            .select(F.col("vec_id").alias("cid"), F.col("ev").alias("c"))
            .collect()
        )
    cb_rows = _PQ_CB_CACHE[cb_key]
    C = np.asarray([c for _, c in cb_rows], dtype=np.float64)  # (K, DIM); row == cid
    m_n, dsub = _PQ_M, _PQ_DSUB

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["ev"].to_numpy()).astype(np.float64)
            n = len(V)
            codes = np.empty((n, m_n), dtype=np.int32)
            best_d = np.empty((n, m_n), dtype=np.float64)
            for m in range(m_n):
                acc = np.zeros((n, _PQ_K), dtype=np.float64)
                for d in range(dsub):
                    idx = m * dsub + d
                    diff = V[:, idx : idx + 1] - C[None, :, idx]
                    acc = acc + diff * diff
                accr = np.floor(acc * 1e6 + 0.5) / 1e6
                code = np.argmin(accr, axis=1)
                codes[:, m] = code
                best_d[:, m] = accr[np.arange(n), code]
            tot = np.zeros(n, dtype=np.float64)
            for m in range(m_n):
                tot = tot + best_d[:, m]
            tot = np.floor(tot * 1e6 + 0.5) / 1e6
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for m in range(m_n):
                out[f"code_{m}"] = codes[:, m]
            out["distortion"] = tot
            yield pd.DataFrame(out)

    schema = T.StructType(
        [T.StructField("vec_id", T.LongType())]
        + [T.StructField(f"code_{m}", T.IntegerType()) for m in range(m_n)]
        + [T.StructField("distortion", T.DoubleType())]
    )
    return emb.mapInPandas(_encode, schema)


_RP_J = 8  # projected dimensions


def _rp_signs() -> list[list[float]]:
    """Deterministic Rademacher sign matrix derived from md5 — the j-th
    projection's i-th sign is +1 iff the first hex digit of
    md5('rp{j}_{i}') is < '8'.  Recomputable in ANSI SQL, so the oracle
    derives the identical matrix without any side-channel."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"rp{j}_{i}".encode()).hexdigest()[0] < "8"
            else -1.0
            for i in range(1, _DIM + 1)
        ]
        for j in range(_RP_J)
    ]


@query(
    "embedding_random_projection",
    oracle=f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings
),
terms AS (
  SELECT e.vec_id, tj.j, ti.i,
         CAST(floor((CASE WHEN substr(md5('rp' || CAST(tj.j AS VARCHAR) || '_'
                                       || CAST(ti.i AS VARCHAR)), 1, 1) < '8'
                      THEN 1.0 ELSE -1.0 END)
                    * e.ev[CAST(ti.i AS INTEGER)] * 1e6) AS BIGINT) AS tu
  FROM e CROSS JOIN range({_RP_J}) tj(j) CROSS JOIN range(1, {_DIM + 1}) ti(i)
)
SELECT vec_id, CAST(j AS INTEGER) AS proj_dim, CAST(SUM(tu) AS BIGINT) AS proj_micro
FROM terms
GROUP BY vec_id, j
""",
    tags=("similarity", "projection"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse random projection (Achlioptas 2003 / Johnson–Lindenstrauss):
    reduce 64-d embeddings to 8 dims with a Rademacher ±1 matrix so
    downstream clustering/LSH run on 8× less data.  Signs derive from md5
    (see _rp_signs) so the projection is reproducible anywhere.

    Scale shape: the 8×64 sign matrix is a LITERAL baked into the plan
    (Spark never recomputes md5 per row — the oracle recomputes it in SQL
    to prove the matrix matches); each vector's 8 projections are a
    scan-side fold, then one 1→8 posexplode to long format.  No shuffle
    — 100 TB projects at scan cost.  Each term is
    quantized to integer micro-units BEFORE summing, so the cross-engine
    comparison is exact regardless of float summation order."""
    v = views(spark, sf_dir)
    emb = v["embeddings"].select("vec_id", _as_double("embedding").alias("ev"))
    signs = F.array(
        *[F.array(*[F.lit(s) for s in row]) for row in _rp_signs()]
    )
    projs = F.expr(
        f"""
        transform(sequence(0, {_RP_J - 1}), j ->
          aggregate(sequence(1, {_DIM}), CAST(0 AS BIGINT),
            (a, i) -> a + CAST(floor(element_at(element_at(_signs, j + 1), i)
                                     * element_at(ev, i) * 1e6) AS BIGINT)))
        """
    )
    return (
        emb.withColumn("_signs", signs)
        .withColumn("_p", projs)
        .select("vec_id", F.posexplode("_p").alias("proj_dim", "proj_micro"))
    )


def _ivfpq_oracle() -> str:
    dsub, m_n, k_n = _PQ_DSUB, _PQ_M, _PQ_K
    sub_d2 = (
        f"list_sum(list_transform(range(1, {dsub + 1}), d -> "
        f"({{v}}[CAST({{m}} * {dsub} + d AS INTEGER)] - cb.c[CAST({{m}} * {dsub} + d AS INTEGER)]) "
        f"* ({{v}}[CAST({{m}} * {dsub} + d AS INTEGER)] - cb.c[CAST({{m}} * {dsub} + d AS INTEGER)])))"
    )
    return f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
cb AS (SELECT vec_id AS cid, ev AS c FROM e WHERE vec_id < {k_n}),
best AS (
  SELECT vec_id, m, cid FROM (
    SELECT e.vec_id, t.m, cb.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, t.m
                              ORDER BY round({sub_d2.format(v="e.ev", m="t.m")}, 6), cb.cid) AS rnk
    FROM e CROSS JOIN range({m_n}) t(m) CROSS JOIN cb
  ) WHERE rnk = 1
),
cent_elems AS (
  SELECT label, i,
         round((SUM(CAST(floor(ev[i] * 1e9 + 0.5) AS BIGINT)) / COUNT(*)) / 1e9, 6)
           AS v
  FROM e, (SELECT unnest(range(1, 65)) AS i)
  GROUP BY label, i
),
cent AS (SELECT label, list(v ORDER BY i) AS cv FROM cent_elems GROUP BY label),
assigned AS (
  SELECT vec_id, c_label FROM (
    SELECT e.vec_id, c.label AS c_label,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_DUCKDB_COSINE_RAW.format(a="e.ev", b="c.cv")} DESC, c.label) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
probes AS (
  SELECT qid, c_label FROM (
    SELECT q.vec_id AS qid, c.label AS c_label,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_DUCKDB_COSINE_RAW.format(a="q.ev", b="c.cv")} DESC, c.label) AS rn
    FROM e q CROSS JOIN cent c WHERE q.vec_id < {N_IVF_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
),
qlut AS (
  SELECT q.vec_id AS qid, t.m, cb.cid,
         CAST(floor({sub_d2.format(v="q.ev", m="t.m")} * 1e6 + 0.5) AS BIGINT) AS lu
  FROM e q CROSS JOIN range({m_n}) t(m) CROSS JOIN cb
  WHERE q.vec_id < {N_IVF_QUERIES}
),
adist AS (
  SELECT p.qid, a.vec_id AS neighbor_id, CAST(SUM(l.lu) AS BIGINT) AS approx_d2_micro
  FROM probes p
  JOIN assigned a ON a.c_label = p.c_label
  JOIN best b ON b.vec_id = a.vec_id
  JOIN qlut l ON l.qid = p.qid AND l.m = b.m AND l.cid = b.cid
  WHERE a.vec_id <> p.qid
  GROUP BY p.qid, a.vec_id
)
SELECT qid, neighbor_id, approx_d2_micro, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT qid, neighbor_id, approx_d2_micro,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY approx_d2_micro, neighbor_id) AS rnk
  FROM adist
) WHERE rnk <= {IVF_TOP_K}
"""


@query(
    "ann_ivfpq_adc",
    oracle=_ivfpq_oracle(),
    tags=("similarity", "ann", "quantize"),
)
def ann_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ with asymmetric distance computation (Jégou et al. 2011) —
    the production ANN serving stack: coarse IVF cells bound WHICH vectors
    each query touches, PQ codes bound what scoring a candidate COSTS.
    Each query precomputes an 8×16 lookup table of subspace distances to
    the codebook; a candidate's approximate distance is then 8 integer
    table lookups over its codes — no float math per candidate, and the
    full-precision corpus is never read at query time.

    Scale shape: the corpus is encoded once scan-side (codes + cell id,
    broadcast codebook/centroids — the embedding_pq_codes/ann_ivf plans);
    query LUTs are tiny literals carried through the broadcast probe
    relation; the candidate join shuffles nothing but (cell, codes) rows.
    LUT entries are floored to integer micro-units so the ADC sum is an
    exact BIGINT on both engines — the whole approximate pipeline is
    hash-verifiable, argmins included."""
    v = views(spark, sf_dir)
    emb = v["embeddings"].select(
        "vec_id", "label", _as_double("embedding").alias("ev")
    )
    cb_rows = sorted(
        (r.cid, list(r.c))
        for r in emb.where(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("cid"), F.col("ev").alias("c"))
        .collect()
    )

    # corpus: PQ codes (same rounded-argmin rule as embedding_pq_codes)
    codes_expr = F.expr(
        f"""
        transform(sequence(0, {_PQ_M - 1}), m ->
          array_sort(transform(_cb, ct -> named_struct(
            'dist2', round(aggregate(transform(sequence(1, {_PQ_DSUB}), d ->
                (element_at(ev, m * {_PQ_DSUB} + d) - element_at(ct.c, m * {_PQ_DSUB} + d))
                * (element_at(ev, m * {_PQ_DSUB} + d) - element_at(ct.c, m * {_PQ_DSUB} + d))),
              CAST(0.0 AS DOUBLE), (a, x) -> a + x), 6),
            'cid', ct.cid)))[0].cid)
        """
    )

    # coarse cells: per-label mean centroids (shared shape with ann_ivf_cosine).
    # Elements are quantized to integer nano-units BEFORE the sum so the
    # aggregation is order-free (exact BIGINT arithmetic under any parallel
    # summation order); one double division + round(6) at the end.  A plain
    # AVG can land on a 6dp rounding boundary and flip a digit between
    # engines/runs — the root cause behind the round-3 quantize mismatch.
    cent = (
        emb.select("label", F.posexplode("ev").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.round(
                (F.sum(F.floor(F.col("val") * 1e9 + F.lit(0.5))) / F.count("*")) / 1e9,
                6,
            ).alias("v")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
            ).alias("cv")
        )
        .select(F.col("label").alias("c_label"), "cv")
    )
    corpus = (
        _assign_cells_scanside(
            emb, sorted((r.c_label, list(r.cv)) for r in cent.collect())
        )
        .withColumn("_cb", _km_cent_lit(cb_rows))
        .select("vec_id", "c_label", codes_expr.alias("codes"))
    )

    # queries: NPROBE cells + integer-micro LUT, all computed on 10 rows
    q = emb.where(F.col("vec_id") < N_IVF_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qv")
    )
    cos_q = F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6)
    w_probe = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("c_label"))
    lut_expr = F.expr(
        f"""
        transform(sequence(0, {_PQ_M - 1}), m -> transform(_cb, ct ->
          CAST(floor(aggregate(transform(sequence(1, {_PQ_DSUB}), d ->
              (element_at(qv, m * {_PQ_DSUB} + d) - element_at(ct.c, m * {_PQ_DSUB} + d))
              * (element_at(qv, m * {_PQ_DSUB} + d) - element_at(ct.c, m * {_PQ_DSUB} + d))),
            CAST(0.0 AS DOUBLE), (a, x) -> a + x) * 1e6 + 0.5) AS BIGINT)))
        """
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qv", "c_label", cos_q.alias("sim"))
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= IVF_NPROBE)
        .withColumn("_cb", _km_cent_lit(cb_rows))
        .select("qid", "c_label", lut_expr.alias("lut"))
    )

    adc = F.expr(
        f"""
        aggregate(sequence(0, {_PQ_M - 1}), CAST(0 AS BIGINT), (a, m) ->
          a + element_at(element_at(lut, m + 1), element_at(codes, m + 1) + 1))
        """
    )
    scored = (
        corpus.join(F.broadcast(probes), "c_label")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("approx_d2_micro"),
        )
    )
    w_rank = W.partitionBy("qid").orderBy("approx_d2_micro", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= IVF_TOP_K)
    )


@query(
    "crossmodal_lang_label_profile",
    oracle="""
WITH joined AS (
  SELECT d.lang, e.label,
         CAST(ROUND(sqrt(list_sum(list_transform(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000)
              AS BIGINT) AS norm_u
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
)
SELECT lang, label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(norm_u) AS BIGINT) AS norm_sum_u,
       round(CAST(SUM(norm_u) AS DOUBLE) / 1000000.0 / COUNT(*), 4) AS mean_norm
FROM joined
GROUP BY lang, label
""",
    tags=("similarity", "pipeline", "join"),
)
def crossmodal_lang_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal audit: join the text table to its embedding table
    (doc_id = vec_id) and profile embedding norms per (language, cluster
    label) — the consistency check a multimodal corpus runs to catch
    modality drift (a language whose embeddings have systematically
    shorter norms usually means the embedder saw truncated or
    wrong-encoding text).

    The join is fact×fact on the shared id: at 100 TB both tables would
    be BUCKETED by id at write time (see sink_roundtrip_bucketed_join)
    making this a zero-Exchange merge; here the ids arrive aligned and
    AQE picks the join side.  Norms quantize to integer micro-units
    before the group sum (order-free, cross-engine exact); the one mean
    divides two exact integers."""
    v = views(spark, sf_dir)
    norm_u = F.round(_norm("embedding") * 1_000_000).cast("bigint")
    emb = v["embeddings"].select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")
    ).select("vec_id", "label", norm_u.alias("norm_u"))
    docs = v["documents"].select("doc_id", "lang")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("lang", "label")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("norm_u").alias("norm_sum_u"),
            F.round(F.sum("norm_u").cast("double") / 1_000_000.0 / F.count("*"), 4).alias(
                "mean_norm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation — recall@K of the LSH route vs exact ground truth.

def _recall_eval_oracle() -> str:
    """Compose the two already-verified oracles: exact top-K and LSH top-K."""
    from parquet_query_spark.operators.catalog import CATALOG

    exact_sql = CATALOG["knn_bruteforce_cosine"].oracle
    approx_sql = CATALOG["ann_lsh_cosine"].oracle
    return f"""
WITH exact AS (SELECT qid, neighbor_id FROM ({exact_sql})),
     approx AS (SELECT qid, neighbor_id FROM ({approx_sql})),
     per AS (
       SELECT e.qid,
              CAST(COUNT(*) AS BIGINT) AS n_exact,
              CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hits
       FROM exact e
       LEFT JOIN approx a ON a.qid = e.qid AND a.neighbor_id = e.neighbor_id
       GROUP BY e.qid
     ),
     total AS (
       SELECT CAST(-1 AS BIGINT) AS qid,
              CAST(SUM(n_exact) AS BIGINT) AS n_exact,
              CAST(SUM(n_hits) AS BIGINT) AS n_hits
       FROM per
     )
SELECT qid, n_exact, n_hits,
       CAST(floor(n_hits * 10000.0 / n_exact) AS BIGINT) AS recall_bp
FROM (SELECT * FROM per UNION ALL SELECT * FROM total)
"""


@query(
    "ann_recall_eval",
    oracle=_recall_eval_oracle(),
    tags=("similarity", "ann", "qa"),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K audit of the ANN path: per-query and overall recall of
    `ann_lsh_cosine` against the `knn_bruteforce_cosine` ground truth —
    the metric every production ANN deployment tracks before swapping the
    exact path out.  qid = -1 is the corpus-wide (micro-averaged) row.

    Scale story: ground truth is only ever computed for the (small,
    broadcast) query set, so this stays one exact pass + one ANN pass over
    the corpus regardless of corpus size; the compare join is tiny
    (n_queries x K rows).  Recall is reported in integer basis points
    (floor(hits * 10000 / truth)) so the hash compare is exact."""
    exact = knn_bruteforce_cosine(spark, sf_dir).select("qid", "neighbor_id")
    approx = ann_lsh_cosine(spark, sf_dir).select(
        F.col("qid").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    per = (
        exact.join(
            F.broadcast(approx),
            (F.col("qid") == F.col("a_qid")) & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum(F.when(F.col("a_nid").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    total = per.agg(
        F.lit(-1).cast("bigint").alias("qid"),
        F.sum("n_exact").cast("bigint").alias("n_exact"),
        F.sum("n_hits").cast("bigint").alias("n_hits"),
    )
    return (
        per.unionByName(total)
        .select(
            "qid",
            "n_exact",
            "n_hits",
            F.floor(F.col("n_hits") * 10000.0 / F.col("n_exact"))
            .cast("bigint")
            .alias("recall_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed PCA: gram-matrix partials + deterministic power iteration.

_PCA_ITERS = 3


def _gram_partials(batches):
    """mapInPandas worker: per-partition integer gram-matrix partial.

    Each row's outer product e_i * e_j is quantized to integer nano-units
    BEFORE summation (floor(x * 1e9 + 0.5), the same fixed formula the
    oracle uses), so the partial is an exact int64 — summation order can
    never change the answer, the property every distributed float
    reduction here relies on."""
    import numpy as np
    import pandas as pd

    dim = _DIM
    acc = np.zeros((dim, dim), dtype=np.int64)
    for pdf in batches:
        if len(pdf) == 0:
            continue
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        for s in range(0, len(V), 256):
            C = V[s : s + 256]
            P = np.floor(np.einsum("ni,nj->nij", C, C) * 1e9 + 0.5).astype(np.int64)
            acc += P.sum(axis=0)
    yield pd.DataFrame(
        {
            "i": np.repeat(np.arange(dim), dim),
            "j": np.tile(np.arange(dim), dim),
            "gn": acc.ravel(),
        }
    )


def _pca_oracle() -> str:
    dim = _DIM
    sql = f"""
WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
gram AS (
  SELECT ii.i AS i, jj.j AS j,
         CAST(SUM(CAST(floor(ev[ii.i + 1] * ev[jj.j + 1] * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS gn
  FROM e,
       (SELECT unnest(range({dim})) AS i) ii,
       (SELECT unnest(range({dim})) AS j) jj
  GROUP BY ii.i, jj.j
),
grow AS (SELECT i, list(CAST(gn AS DOUBLE) ORDER BY j) AS gr FROM gram GROUP BY i),
v0 AS (SELECT list_transform(range({dim}), x -> 1000000.0) AS v)"""
    prev = "v0"
    for it in range(1, _PCA_ITERS + 1):
        sql += f""",
w{it} AS (
  SELECT i, list_sum(list_transform(list_zip(gr, (SELECT v FROM {prev})), p -> p[1] * p[2])) AS w
  FROM grow
),
m{it} AS (SELECT MAX(abs(w)) AS m FROM w{it}),
v{it} AS (
  SELECT list(CAST(floor((w / (SELECT m FROM m{it})) * 1000000.0 + 0.5) AS DOUBLE) ORDER BY i) AS v
  FROM w{it}
)"""
        prev = f"v{it}"
    last = _PCA_ITERS
    sql += f"""
SELECT i, CAST(floor((w / (SELECT m FROM m{last})) * 1000000.0 + 0.5) AS BIGINT) AS loading_micro
FROM w{last}
"""
    return sql


@query(
    "embedding_pca_top_component",
    oracle=_pca_oracle(),
    tags=("similarity", "linalg"),
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus: one
    distributed pass builds the 64x64 gram matrix (map-side integer
    partials, elementwise reduce), then 3 power-iteration steps
    run on the collected constant-size matrix — the standard two-phase
    layout for tall-skinny PCA (the N-row corpus is touched exactly once;
    only dim^2 integers ever reach the driver, same legitimate-broadcast
    class as the k-means centroids).

    Determinism: gram entries are order-free exact int64 (per-row products
    quantized to nanos before summing); each iteration's matrix-vector
    products run as identical left folds over identical doubles on both
    engines, and re-quantization uses the fixed floor(x * 1e6 + 0.5)
    formula — no round(), no float summation ambiguity anywhere.  The
    output is the final-iteration direction in integer micro-units
    (max-abs-normalized to 1e6)."""
    import math

    from pyspark.sql import types as T

    v = views(spark, sf_dir)
    gram_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("gn", T.LongType()),
        ]
    )
    gram = (
        v["embeddings"]
        .select("embedding")
        .mapInPandas(_gram_partials, gram_schema)
        .groupBy("i", "j")
        .agg(F.sum("gn").alias("gn"))
        .collect()
    )
    G = [[0.0] * _DIM for _ in range(_DIM)]
    for row in gram:
        G[row["i"]][row["j"]] = float(row["gn"])
    vec = [1000000.0] * _DIM
    w = vec
    for _ in range(_PCA_ITERS):
        w = []
        for i in range(_DIM):
            acc = 0.0
            gr = G[i]
            for j in range(_DIM):
                acc += gr[j] * vec[j]
            w.append(acc)
        m = max(abs(x) for x in w)
        vec = [float(math.floor((x / m) * 1000000.0 + 0.5)) for x in w]
    out = [(i, int(vec[i])) for i in range(_DIM)]
    schema = T.StructType(
        [
            T.StructField("i", T.LongType(), False),
            T.StructField("loading_micro", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(out, schema)


@query(
    "embedding_matryoshka_retention",
    oracle="""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
pref AS (SELECT unnest([8, 16, 32]) AS d),
ratios AS (
  SELECT e.label, p.d,
         CAST(floor(
           sqrt(list_sum(list_transform(ev[1:p.d], x -> x * x)))
           / sqrt(list_sum(list_transform(ev, x -> x * x)))
           * 1000000.0 + 0.5) AS BIGINT) AS retained_u
  FROM e CROSS JOIN pref p
)
SELECT label, CAST(d AS INTEGER) AS prefix_dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(retained_u) AS BIGINT) AS retained_sum_u,
       round(CAST(SUM(retained_u) AS DOUBLE) / 1000000.0 / COUNT(*), 4) AS mean_retained
FROM ratios
GROUP BY label, d
""",
    tags=("similarity", "quantize", "qa"),
)
def embedding_matryoshka_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/truncation audit: how much of each vector's norm the
    first 8/16/32 dimensions retain, per cluster label — the measurement
    behind MRL-style dimension truncation (serve a 16-d prefix where it
    retains enough signal; keep 64-d only where it doesn't) and the check
    that an embedding model actually front-loads information.

    Scale shape: pure scan-side array arithmetic (no joins, no UDFs), one
    map-side-combined rollup over labels x 3 prefix lengths.  Per-vector
    ratios quantize to integer micro-units via the fixed floor formula
    before the group sum (order-free exact); the one mean divides two
    exact integers."""
    v = views(spark, sf_dir)
    emb = v["embeddings"].select(
        "label", _as_double("embedding").alias("ev")
    )
    with_d = emb.select(
        "label", "ev", F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("d")
    )
    prefix_norm = F.sqrt(
        F.expr(
            "aggregate(transform(slice(ev, 1, d), x -> x * x), "
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        )
    )
    retained_u = F.floor(prefix_norm / _norm("ev") * 1000000.0 + 0.5).cast("bigint")
    return (
        with_d.select("label", F.col("d").cast("int").alias("prefix_dim"), retained_u.alias("retained_u"))
        .groupBy("label", "prefix_dim")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum("retained_u").cast("bigint").alias("retained_sum_u"),
            F.round(
                F.sum("retained_u").cast("double") / 1000000.0 / F.count("*"), 4
            ).alias("mean_retained"),
        )
    )


@query(
    "embedding_cluster_balance",
    oracle="""
WITH sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
         CAST(SUM(n) AS BIGINT) AS n_vectors,
         CAST(MAX(n) AS BIGINT) AS max_size,
         CAST(MIN(n) AS BIGINT) AS min_size
  FROM sizes
)
SELECT n_clusters, n_vectors, max_size, min_size,
       CAST(max_size * n_clusters * 10000 // n_vectors AS BIGINT) AS imbalance_bp
FROM s
""",
    tags=("similarity", "ann", "qa"),
)
def embedding_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list-balance audit: cluster-size spread and the imbalance ratio
    max/mean in basis points (10000 = perfectly balanced).  Skewed
    inverted lists are the silent ANN perf killer — a hot cell makes
    every probe of it cost its size, so this one row decides whether the
    coarse quantizer needs re-training or the hot cell needs splitting
    before ann_ivf_cosine/ann_ivfpq_adc ship.  Integer ratio of exact
    counts; one map-side-combined label rollup."""
    v = views(spark, sf_dir)
    sizes = v["embeddings"].groupBy("label").agg(F.count("*").cast("bigint").alias("n"))
    s = sizes.agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.max("n").cast("bigint").alias("max_size"),
        F.min("n").cast("bigint").alias("min_size"),
    )
    return s.select(
        "n_clusters",
        "n_vectors",
        "max_size",
        "min_size",
        F.expr("max_size * n_clusters * 10000 DIV n_vectors").cast("bigint").alias("imbalance_bp"),
    )


@query(
    "embedding_exact_duplicates",
    oracle="""
WITH keyed AS (
  SELECT vec_id,
         md5(array_to_string(list_transform(embedding, x ->
             CAST(CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS VARCHAR)), ','))
           AS vec_key
  FROM embeddings
),
grouped AS (
  SELECT vec_key, CAST(COUNT(*) AS BIGINT) AS n_copies,
         CAST(MIN(vec_id) AS BIGINT) AS keeper_id
  FROM keyed GROUP BY vec_key
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_vectors,
       CAST(SUM(n_copies) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT)
         AS n_redundant,
       CAST(MAX(n_copies) AS BIGINT) AS max_copies
FROM grouped
""",
    tags=("similarity", "dedup", "qa"),
)
def embedding_exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate vector audit: embeddings hashed on their
    micro-quantized component string — repeated vectors usually mean an
    upstream embedding-cache bug, a collapsed encoder, or copy-paste rows,
    and they silently distort every centroid, ANN list, and SemDeDup pass
    downstream.  The shuffle carries (128-bit key) not the 64 floats —
    the same hash-not-payload discipline as the text exact dedup; the
    micro quantization makes float-noise-identical vectors collide
    deliberately."""
    v = views(spark, sf_dir)
    comp = F.expr(
        "array_join(transform(embedding, x -> "
        "CAST(CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS STRING)), ',')"
    )
    keyed = v["embeddings"].select("vec_id", F.md5(comp).alias("vec_key"))
    grouped = keyed.groupBy("vec_key").agg(
        F.count("*").cast("bigint").alias("n_copies"),
        F.min("vec_id").cast("bigint").alias("keeper_id"),
    )
    return grouped.agg(
        F.count("*").cast("bigint").alias("n_distinct_vectors"),
        F.sum("n_copies").cast("bigint").alias("n_vectors"),
        F.sum(F.when(F.col("n_copies") > 1, F.col("n_copies") - 1).otherwise(0))
        .cast("bigint")
        .alias("n_redundant"),
        F.max("n_copies").cast("bigint").alias("max_copies"),
    )


@query(
    "embedding_pair_distance_histogram",
    oracle=f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
half AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS h FROM e),
paired AS (
  SELECT a.vec_id,
         {_DUCKDB_COSINE_RAW.format(a="a.ev", b="b.ev")} AS cosine
  FROM e a
  JOIN half ON TRUE
  JOIN e b ON b.vec_id = a.vec_id + half.h
),
bucketed AS (
  SELECT LEAST(GREATEST(CAST(floor((cosine + 1.0) * 10) AS INTEGER), 0), 19) AS bucket
  FROM paired
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM bucketed
GROUP BY bucket
""",
    tags=("similarity", "qa", "aggregate"),
)
def embedding_pair_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-geometry health check: the cosine distribution over a
    deterministic pairing (vector i vs vector i + n/2) binned into 20
    buckets on [-1, 1].  A healthy embedding space puts random pairs in a
    broad band around 0; a COLLAPSED encoder (all vectors nearly
    parallel — the classic training failure) pushes the whole histogram
    into the top buckets, visible at a glance before any ANN index is
    built on garbage.

    The pairing is an equi-join on an id offset — one shuffle, exactly
    n/2 pairs, no sampling RNG to flake the hash; cosines round to 6dp
    via the shared left-fold formula before bucketing."""
    v = views(spark, sf_dir)
    e = v["embeddings"].select("vec_id", _as_double("embedding").alias("ev"))
    half = e.agg((F.count("*") / 2).cast("bigint").alias("h"))
    a = e.select(F.col("vec_id").alias("a_id"), F.col("ev").alias("qv"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("ev").alias("ev"))
    cos = F.round(_dot("qv", "ev") / (_norm("qv") * _norm("ev")), 6)
    paired = (
        a.crossJoin(F.broadcast(half))
        .join(b, F.col("b_id") == F.col("a_id") + F.col("h"))
        .select(cos.alias("cosine"))
    )
    bucket = F.least(
        F.greatest(F.floor((F.col("cosine") + 1.0) * 10).cast("int"), F.lit(0)),
        F.lit(19),
    )
    return (
        paired.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


@query(
    "crossmodal_len_peakedness_correlation",
    oracle="""
WITH joined AS (
  SELECT CAST(d.n_chars // 100 AS BIGINT) AS x,
         CAST(floor(list_max(list_transform(e.embedding, v -> CAST(v AS DOUBLE)))
                    * 1000 + 0.5) AS BIGINT) AS y
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM joined
)
SELECT n AS n_docs,
       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
            ELSE round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4) END
         AS len_peak_corr
FROM s
""",
    tags=("similarity", "pipeline", "join", "qa"),
)
def crossmodal_len_peakedness_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal leakage check: correlation of document length with the
    embedding's PEAKEDNESS (max component of the unit vector — norms are
    normalized away, so direction concentration is the informative
    scalar).  A strong correlation means document length leaks into the
    embedding direction, so retrieval would systematically prefer long
    or short docs regardless of content — worth knowing before cosine
    thresholds are tuned.  Length quantizes to hectochar units and
    peakedness to milli-units before the five exact BIGINT regression
    sums — milli keeps n·Σy² inside int64 at any realistic corpus size
    (the shared grouped-correlation discipline, with the degenerate
    -variance guard); the fact-fact id join is the bucketed-join shape
    at scale."""
    v = views(spark, sf_dir)
    y = F.floor(
        F.expr("array_max(transform(embedding, v -> CAST(v AS DOUBLE)))") * 1000
        + 0.5
    ).cast("bigint")
    joined = (
        v["documents"]
        .select("doc_id", F.expr("n_chars DIV 100").cast("bigint").alias("x"))
        .join(
            v["embeddings"].select("vec_id", "embedding"),
            F.col("doc_id") == F.col("vec_id"),
        )
        .select("x", y.alias("y"))
    )
    s = joined.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    degen = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") == 0)
        | (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") == 0)
    )
    corr = F.when(degen, F.lit(0.0)).otherwise(
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / F.sqrt(
                (
                    F.col("n").cast("double") * F.col("sxx")
                    - F.col("sx").cast("double") * F.col("sx")
                )
                * (
                    F.col("n").cast("double") * F.col("syy")
                    - F.col("sy").cast("double") * F.col("sy")
                )
            ),
            4,
        )
    )
    return s.select(F.col("n").alias("n_docs"), corr.alias("len_peak_corr"))


@query(
    "embedding_norm_outliers",
    oracle="""
WITH n AS (
  SELECT vec_id, label,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS l2
  FROM embeddings
),
s AS (
  SELECT avg(l2) AS mu, stddev_samp(l2) AS sigma FROM n
)
SELECT vec_id, label,
       round(l2, 4) AS l2_norm,
       round((l2 - mu) / sigma, 3) AS z
FROM n, s
WHERE abs(round((l2 - mu) / sigma, 3)) >= 2.0
""",
    tags=("embedding", "quality"),
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors whose L2 norm is a >=2-sigma outlier — broken encoders and
    truncated inputs show up here before they poison cosine similarity
    (an un-normalized stray vector dominates every dot product).

    Scale shape: one scan computes norms (codegen lambda), the global
    mean/stddev is a two-double aggregate broadcast back — no shuffle of
    vectors, no collect beyond the 2-row stat."""
    v = views(spark, sf_dir)
    norms = v["embeddings"].select(
        "vec_id",
        "label",
        F.sqrt(
            F.expr(
                "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * x)"
            )
        ).alias("l2"),
    )
    stats = norms.agg(
        F.avg("l2").alias("mu"), F.stddev_samp("l2").alias("sigma")
    )
    z = F.round((F.col("l2") - F.col("mu")) / F.col("sigma"), 3)
    return (
        norms.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            "label",
            F.round("l2", 4).alias("l2_norm"),
            z.alias("z"),
        )
        .where(F.abs(F.col("z")) >= 2.0)
    )


@query(
    "embedding_label_centroid_drift",
    oracle="""
WITH e AS (
  SELECT label, CAST(t.i AS INTEGER) AS i,
         CAST(list_extract(embedding, CAST(t.i AS INTEGER)) AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
c AS (
  SELECT label, i, avg(x) AS m
  FROM e GROUP BY label, i
)
SELECT a.label AS label_a, b.label AS label_b,
       round(SUM(a.m * b.m)
             / (sqrt(SUM(a.m * a.m)) * sqrt(SUM(b.m * b.m))), 6) AS centroid_cosine
FROM c a JOIN c b ON a.i = b.i AND a.label < b.label
GROUP BY a.label, b.label
""",
    tags=("embedding", "quality"),
)
def embedding_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label centroid vectors — the drift
    matrix that tells a mixture owner whether two supposedly-distinct
    slices of the corpus have collapsed into the same region (cos → 1)
    or live in different regions worth separate sampling weights.

    Scale shape: posexplode is n_vectors x dim rows but aggregates
    map-side onto (label, dim) — the shuffle carries |labels| x dim
    partial sums, corpus-size-independent; the centroid pair join is a
    tiny self-join on dim."""
    v = views(spark, sf_dir)
    e = v["embeddings"].select(
        "label", F.posexplode(_as_double("embedding")).alias("i", "x")
    )
    c = e.groupBy("label", "i").agg(F.avg("x").alias("m"))
    a = c.select(F.col("label").alias("label_a"), "i", F.col("m").alias("ma"))
    b = c.select(F.col("label").alias("label_b"), "i", F.col("m").alias("mb"))
    pairs = a.join(b, (a.i == b.i) & (F.col("label_a") < F.col("label_b"))).drop("i")
    return (
        pairs.groupBy("label_a", "label_b")
        .agg(
            F.round(
                F.sum(F.col("ma") * F.col("mb"))
                / (
                    F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                    * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
                ),
                6,
            ).alias("centroid_cosine")
        )
    )


@query(
    "embedding_dimension_profile",
    oracle="""
WITH e AS (
  SELECT CAST(t.i AS INTEGER) AS dim,
         CAST(list_extract(embedding, CAST(t.i AS INTEGER)) AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
)
SELECT dim,
       round(avg(x), 4) AS mean,
       round(stddev_samp(x), 4) AS std,
       round(MIN(x), 4) AS min_x,
       round(MAX(x), 4) AS max_x,
       CASE WHEN stddev_samp(x) < 0.01 THEN 1 ELSE 0 END AS is_dead
FROM e
GROUP BY dim
""",
    tags=("embedding", "quality"),
)
def embedding_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics — dead dimensions (near-zero
    variance) waste index space and signal a truncated or collapsed
    encoder; a skewed per-dimension mean breaks cosine assumptions.  The
    column-profile idea applied inside the vector column.

    Scale shape: posexplode aggregates map-side onto the dim key — the
    shuffle carries dim-bounded partials, corpus-size-independent."""
    v = views(spark, sf_dir)
    e = v["embeddings"].select(
        F.posexplode(_as_double("embedding")).alias("i", "x")
    ).select((F.col("i") + 1).cast("int").alias("dim"), "x")
    return (
        e.groupBy("dim")
        .agg(
            F.round(F.avg("x"), 4).alias("mean"),
            F.round(F.stddev_samp("x"), 4).alias("std"),
            F.round(F.min("x"), 4).alias("min_x"),
            F.round(F.max("x"), 4).alias("max_x"),
            F.when(F.stddev_samp("x") < 0.01, 1).otherwise(0).alias("is_dead"),
        )
    )


@query(
    "embedding_knn_label_eval",
    oracle="""
WITH sub AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 200
),
pairs AS (
  SELECT a.vec_id AS qid, a.label AS true_label, b.vec_id AS nid,
         b.label AS nlabel,
         round(
           list_sum(list_transform(list_zip(a.v, b.v), p -> CAST(p[1] AS DOUBLE) * p[2]))
           / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
              * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS cos
  FROM sub a JOIN sub b ON a.vec_id <> b.vec_id
),
top5 AS (
  SELECT qid, true_label, nlabel
  FROM (
    SELECT qid, true_label, nlabel,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
    FROM pairs
  ) WHERE rn <= 5
),
votes AS (
  SELECT qid, true_label, nlabel, CAST(COUNT(*) AS BIGINT) AS n
  FROM top5 GROUP BY qid, true_label, nlabel
),
pred AS (
  SELECT qid, true_label,
         arg_max(nlabel, lpad(CAST(n AS VARCHAR), 3, '0') || '|'
                         || lpad(CAST(99 - nlabel AS VARCHAR), 2, '0')) AS predicted
  FROM votes GROUP BY qid, true_label
)
SELECT true_label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS accuracy_bp
FROM pred
GROUP BY true_label
""",
    tags=("embedding", "similarity", "quality"),
)
def embedding_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label accuracy on a fixed 200-vector
    evaluation slice — the embedding-quality eval that answers "do
    nearest neighbors share labels?" before anyone trusts the space for
    retrieval.  Majority vote with a (count, lowest-label) tie-break
    encoded in one max_by key; cosine rounded to 6dp + neighbor-id
    tie-break makes the top-5 cut cross-engine identical.

    Scale shape: the eval slice is FIXED (200 vectors — all-pairs there
    is 40k scored rows, eval-suite-bounded, not corpus-bounded); the
    per-qid ranking partitions on qid."""
    v = views(spark, sf_dir)
    sub = v["embeddings"].where(F.col("vec_id") < 200).select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    a = sub.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
    )
    b = sub.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("ev"),
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "true_label",
            "nid",
            "nlabel",
            F.round(_dot("qv", "ev") / (_norm("qv") * _norm("ev")), 6).alias("cos"),
        )
    )
    top5 = (
        pairs.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
            ),
        )
        .where(F.col("rn") <= 5)
        .select("qid", "true_label", "nlabel")
    )
    votes = top5.groupBy("qid", "true_label", "nlabel").agg(
        F.count("*").cast("bigint").alias("n")
    )
    pred = votes.groupBy("qid", "true_label").agg(
        F.expr(
            "max_by(nlabel, concat_ws('|', lpad(CAST(n AS STRING), 3, '0'), "
            "lpad(CAST(99 - nlabel AS STRING), 2, '0')))"
        ).alias("predicted")
    )
    hit = F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(0)
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            F.expr(
                "SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END) * 10000 DIV COUNT(*)"
            )
            .cast("bigint")
            .alias("accuracy_bp"),
        )
    )


def _nprobe_sweep_oracle() -> str:
    cos_ec = _DUCKDB_COSINE_RAW.format(a="e.ev", b="c.cv")
    cos_qc = _DUCKDB_COSINE_RAW.format(a="q.qv", b="c.cv")
    cos_cand = _DUCKDB_COSINE_RAW.format(a="p.qv", b="p.ev")
    cos_truth = _DUCKDB_COSINE_RAW.format(a="q.qv", b="e.ev")
    return f"""
WITH cent_elems AS (
  SELECT label, i, round(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS v
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
  GROUP BY label, i
),
cent AS (SELECT label, list(v ORDER BY i) AS cv FROM cent_elems GROUP BY label),
corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
assigned AS (
  SELECT vec_id, ev, c_label FROM (
    SELECT e.vec_id, e.ev, c.label AS c_label,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {cos_ec} DESC, c.label) AS rn
    FROM corpus e CROSS JOIN cent c
  ) WHERE rn = 1
),
queries AS (SELECT vec_id AS qid, ev AS qv FROM corpus WHERE vec_id < {N_IVF_QUERIES}),
probe_rank AS (
  SELECT q.qid, q.qv, c.label AS c_label,
         ROW_NUMBER() OVER (PARTITION BY q.qid
           ORDER BY {cos_qc} DESC, c.label) AS probe_rn
  FROM queries q CROSS JOIN cent c
),
truth AS (
  SELECT qid, neighbor_id FROM (
    SELECT q.qid, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid
             ORDER BY {cos_truth} DESC, e.vec_id) AS rnk
    FROM queries q CROSS JOIN corpus e
    WHERE e.vec_id <> q.qid
  ) WHERE rnk <= 5
),
sweep AS (SELECT unnest(range(1, 4)) AS nprobe),
cand AS (
  SELECT s.nprobe, p.qid, p.qv, a.vec_id AS neighbor_id, a.ev
  FROM sweep s
  JOIN probe_rank p ON p.probe_rn <= s.nprobe
  JOIN assigned a ON a.c_label = p.c_label
  WHERE a.vec_id <> p.qid
),
approx AS (
  SELECT nprobe, qid, neighbor_id FROM (
    SELECT p.nprobe, p.qid, p.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.nprobe, p.qid
             ORDER BY {cos_cand} DESC, p.neighbor_id) AS rnk
    FROM cand p
  ) WHERE rnk <= 5
),
hits AS (
  SELECT a.nprobe, count(*) AS n_hits
  FROM approx a JOIN truth t ON t.qid = a.qid AND t.neighbor_id = a.neighbor_id
  GROUP BY a.nprobe
),
scanned AS (
  SELECT nprobe, count(*) AS n_scanned FROM cand GROUP BY nprobe
),
sizes AS (SELECT count(*)::BIGINT AS corpus_n FROM corpus)
SELECT CAST(s.nprobe AS INTEGER) AS nprobe,
       CAST(COALESCE(h.n_hits, 0) * 10000 // ({N_IVF_QUERIES} * 5) AS BIGINT) AS recall_bp,
       CAST(sc.n_scanned * 10000 // ({N_IVF_QUERIES} * z.corpus_n) AS BIGINT) AS scanned_bp
FROM sweep s
LEFT JOIN hits h ON h.nprobe = s.nprobe
JOIN scanned sc ON sc.nprobe = s.nprobe
CROSS JOIN sizes z
"""


@query(
    "embedding_ivf_nprobe_sweep",
    oracle=_nprobe_sweep_oracle(),
    tags=("similarity", "ann", "qa"),
)
def embedding_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@5 vs corpus-scanned fraction at
    nprobe ∈ {1,2,3} — the table consulted before picking nprobe for an
    ANN deployment (more probed cells = higher recall, more scan).

    Plan shape: ONE cell-assignment pass over the corpus (broadcast
    centroids), ONE probe ranking per query, then the sweep explodes
    only the (nprobe, probed-cell) pairs — the corpus is never
    rescanned per nprobe level.  Exact ground truth comes from the
    brute-force kernel on the bounded query slice.  Recall and scan
    share are floor-divided integer basis points (order-free)."""
    v = views(spark, sf_dir)
    emb = v["embeddings"].select("vec_id", "label", _as_double("embedding").alias("ev"))
    cent = (
        emb.select("label", F.posexplode("ev").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("v"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
            ).alias("cv")
        )
        .select(F.col("label").alias("c_label"), "cv")
    )
    cos_ec = F.round(_dot("ev", "cv") / (_norm("ev") * _norm("cv")), 6)
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("c_label"))
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "ev", "c_label", cos_ec.alias("sim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "ev", "c_label")
    )
    q = emb.where(F.col("vec_id") < N_IVF_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qv")
    )
    cos_qc = F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6)
    w_probe = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("c_label"))
    probe_rank = (
        q.crossJoin(F.broadcast(cent))
        .select("qid", "qv", "c_label", cos_qc.alias("sim"))
        .withColumn("probe_rn", F.row_number().over(w_probe))
        .select("qid", "qv", "c_label", "probe_rn")
    )
    cos_qe = F.round(_dot("qv", "ev") / (_norm("qv") * _norm("ev")), 6)
    w_truth = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    truth = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), cos_qe.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w_truth))
        .where(F.col("rnk") <= 5)
        .select("qid", "neighbor_id")
    )
    sweep = spark.range(1, 4).select(F.col("id").cast("int").alias("nprobe"))
    cand = (
        assigned.join(
            F.broadcast(
                probe_rank.crossJoin(sweep).where(F.col("probe_rn") <= F.col("nprobe"))
            ),
            "c_label",
        )
        .where(F.col("vec_id") != F.col("qid"))
        .select("nprobe", "qid", "qv", F.col("vec_id").alias("neighbor_id"), "ev")
    )
    w_rank = W.partitionBy("nprobe", "qid").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    approx = (
        cand.select("nprobe", "qid", "neighbor_id", cos_qe.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= 5)
        .select("nprobe", "qid", "neighbor_id")
    )
    # truth/hits/scanned are all query-slice-bounded (≤ queries×5×nprobe
    # rows) — broadcast them so no SortMergeJoin survives (VERDICT r7 #6)
    hits = approx.join(F.broadcast(truth), ["qid", "neighbor_id"]).groupBy(
        "nprobe"
    ).agg(F.count("*").alias("n_hits"))
    scanned = cand.groupBy("nprobe").agg(F.count("*").alias("n_scanned"))
    corpus_n = emb.agg(F.count("*").cast("bigint").alias("corpus_n"))
    return (
        sweep.join(F.broadcast(hits), "nprobe", "left")
        .join(F.broadcast(scanned), "nprobe")
        .crossJoin(F.broadcast(corpus_n))
        .select(
            "nprobe",
            F.expr(
                f"CAST(coalesce(n_hits, 0) * 10000 DIV ({N_IVF_QUERIES} * 5) AS BIGINT)"
            ).alias("recall_bp"),
            F.expr(
                f"CAST(n_scanned * 10000 DIV ({N_IVF_QUERIES} * corpus_n) AS BIGINT)"
            ).alias("scanned_bp"),
        )
    )


@query(
    "embedding_intrinsic_dim_twonn",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv, label
  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 5000
),
pairs AS (
  SELECT q.qid, q.label, e.vec_id AS nid, {_DUCKDB_SQDIST} AS d
  FROM q CROSS JOIN (SELECT vec_id, embedding AS ev FROM embeddings) e
  WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, label, d,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, nid) AS rnk
  FROM pairs WHERE d > 0
),
two AS (
  SELECT qid, label,
         MIN(CASE WHEN rnk = 1 THEN d END) AS d1,
         MIN(CASE WHEN rnk = 2 THEN d END) AS d2
  FROM ranked WHERE rnk <= 2 GROUP BY qid, label
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       round(SUM(0.5 * ln(d2 / d1)), 4) AS sum_log_ratio,
       round(COUNT(*) / nullif(SUM(0.5 * ln(d2 / d1)), 0), 2) AS intrinsic_dim
FROM two WHERE d2 IS NOT NULL
GROUP BY label
""",
    tags=("embedding", "similarity", "profile"),
)
def embedding_intrinsic_dim_twonn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate per label (Facco et al. 2017):
    for each sampled point the ratio of its 2nd to 1st nearest-neighbor
    distance mu = d2/d1 follows a Pareto with shape = the data's
    intrinsic dimension, so id = n / sum(ln mu).  Squared distances are
    used (ln ratio halved) to skip the sqrt.  Low-ID labels are
    structured (near-duplicates, templated text); embedding curation
    uses this to pick compression/index parameters.

    Determinism: distances round to 6dp before ranking and the ratio;
    zero-distance duplicates are discarded (standard TwoNN), points
    without two distinct-distance neighbors drop out.

    Scale shape: deterministic BOUNDED query sample (`vec_id % 10` capped
    at 500 points — the estimator converges on a fixed-size sample, so
    cost stays O(sample x corpus), one corpus scan, never quadratic)
    against a full corpus scan — same guarded fan-out + two-phase bounded
    top-k as knn_bruteforce (similarity.py:95); production would swap the
    exact scan for IVF candidates (ann_ivf_cosine) without touching the
    estimator."""
    v = views(spark, sf_dir)
    emb = v["embeddings"]
    q = emb.where((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), "label"
    )
    e = _fan_out(emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ev")))
    pairs = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "label", "nid", F.expr(_SPARK_SQDIST).alias("d"))
        .where(F.col("d") > 0)
    )
    # two-phase bounded top-k: per-partition top-2 first, then global
    pid = F.spark_partition_id().alias("pid")
    w_part = W.partitionBy("qid", "pid").orderBy("d", "nid")
    partial = (
        pairs.select("qid", "label", "nid", "d", pid)
        .withColumn("prnk", F.row_number().over(w_part))
        .where(F.col("prnk") <= 2)
    )
    w = W.partitionBy("qid").orderBy("d", "nid")
    two = (
        partial.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 2)
        .groupBy("qid", "label")
        .agg(
            F.min(F.when(F.col("rnk") == 1, F.col("d"))).alias("d1"),
            F.min(F.when(F.col("rnk") == 2, F.col("d"))).alias("d2"),
        )
        .where(F.col("d2").isNotNull())
    )
    log_ratio = 0.5 * F.log(F.col("d2") / F.col("d1"))
    return (
        two.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.round(F.sum(log_ratio), 4).alias("sum_log_ratio"),
            F.round(
                F.count("*") / F.nullif(F.sum(log_ratio), F.lit(0.0)), 2
            ).alias("intrinsic_dim"),
        )
    )


@query(
    "embedding_hubness_kocc",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv
  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 5000
),
scored AS (
  SELECT q.qid, e.vec_id AS nid, {_DUCKDB_COSINE} AS cosine
  FROM q CROSS JOIN (SELECT vec_id, embedding AS ev FROM embeddings) e
  WHERE e.vec_id <> q.qid
),
top5 AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
    FROM scored
  ) WHERE rnk <= 5
),
kocc AS (
  SELECT nid, CAST(COUNT(*) AS BIGINT) AS k_occurrences
  FROM top5 GROUP BY nid
),
by_vec AS (
  SELECT e.label, coalesce(k.k_occurrences, 0) AS kocc
  FROM embeddings e LEFT JOIN kocc k ON e.vec_id = k.nid
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN kocc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_antihubs,
       CAST(MAX(kocc) AS BIGINT) AS max_kocc,
       round(AVG(CAST(kocc AS DOUBLE)), 4) AS avg_kocc
FROM by_vec GROUP BY label
""",
    tags=("embedding", "similarity", "profile"),
)
def embedding_hubness_kocc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence hubness profile per label: how often each vector
    appears in the top-5 neighbor lists of the sampled query set.  High
    max_kocc = hub vectors that dominate retrieval (a known
    high-dimensional pathology that biases near-dup mining and RAG
    retrieval); n_antihubs = vectors never retrieved.

    Scale shape: identical pair-scoring skeleton to the TwoNN operator
    (guarded fan-out, bounded two-phase top-k); the k-occurrence count is
    a hash aggregation on vec_id, and the final join back to labels is
    corpus-scan-shaped."""
    v = views(spark, sf_dir)
    emb = v["embeddings"]
    q = emb.where((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 5000)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    e = _fan_out(emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ev")))
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.expr(_SPARK_COSINE).alias("cosine"))
    )
    pid = F.spark_partition_id().alias("pid")
    w_part = W.partitionBy("qid", "pid").orderBy(F.desc("cosine"), F.asc("nid"))
    partial = (
        scored.select("qid", "nid", "cosine", pid)
        .withColumn("prnk", F.row_number().over(w_part))
        .where(F.col("prnk") <= 5)
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    top5 = (
        partial.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("qid", "nid")
    )
    kocc = top5.groupBy("nid").agg(F.count("*").cast("bigint").alias("k_occurrences"))
    by_vec = emb.join(kocc, emb["vec_id"] == kocc["nid"], "left").select(
        "label", F.coalesce(F.col("k_occurrences"), F.lit(0)).alias("kocc")
    )
    return (
        by_vec.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.sum(F.when(F.col("kocc") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_antihubs"),
            F.max("kocc").cast("bigint").alias("max_kocc"),
            F.round(F.avg(F.col("kocc").cast("double")), 4).alias("avg_kocc"),
        )
    )


def _silhouette_oracle() -> str:
    u = _KM_UPDATES
    return f"""
WITH {_km_oracle_ctes()},
two AS (
  SELECT vec_id, cid, dist2, rnk FROM (
    SELECT vec_id, cid, dist2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rnk
    FROM s{u}
  ) WHERE rnk <= 2
),
pt AS (
  SELECT t1.vec_id, t1.cid AS cluster,
         round((sqrt(t2.dist2) - sqrt(t1.dist2))
               / greatest(greatest(sqrt(t1.dist2), sqrt(t2.dist2)), 1e-12),
               4) AS sil
  FROM (SELECT * FROM two WHERE rnk = 1) t1
  JOIN (SELECT * FROM two WHERE rnk = 2) t2 USING (vec_id)
)
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       round(AVG(sil), 4) AS mean_silhouette,
       round(MIN(sil), 4) AS worst_silhouette
FROM pt GROUP BY cluster
"""


@query(
    "embedding_kmeans_silhouette",
    oracle=_silhouette_oracle(),
    tags=("similarity", "clustering", "profile"),
)
def embedding_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based (simplified/medoid-free) silhouette per k-means
    cluster: for each point a = distance to its own centroid, b =
    distance to the nearest OTHER centroid, s = (b - a) / max(a, b) —
    the clustering-QA score that says which IVF cells are well-separated
    and which should be split/merged, without the O(n^2) pairwise
    silhouette.

    Reuses the exact deterministic Lloyd state of kmeans_embeddings
    (similarity.py: same init, same update count), so the clusters
    scored here are literally the catalog's clusters.

    Scale shape: centroids are K x dim literals folded scan-side (no
    join, no shuffle — same trick as _km_assign); the only aggregation
    is the K-row rollup.  The one driver transfer is the K x dim
    centroid collect per Lloyd round, identical to kmeans_embeddings."""
    v = views(spark, sf_dir)
    emb = v["embeddings"].select("vec_id", _as_double("embedding").alias("ev"))
    cents = sorted(
        (r.cid, list(r.c))
        for r in emb.where(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").alias("cid"), F.col("ev").alias("c"))
        .collect()
    )
    assign = _km_assign(emb, cents)
    for _ in range(_KM_UPDATES):
        cents = _km_update_rows(assign)
        assign = _km_assign(emb, cents)
    # per-point distances to the two nearest FINAL centroids, scan-side
    best2 = F.expr(
        """
        slice(array_sort(transform(_cents, ct -> named_struct(
          'dist2', round(aggregate(zip_with(ev, ct.c, (x, y) -> (x - y) * (x - y)),
                                   CAST(0.0 AS DOUBLE), (a, v) -> a + v), 6),
          'cid', ct.cid))), 1, 2)
        """
    )
    pt = (
        emb.withColumn("_cents", _km_cent_lit(cents))
        .withColumn("_b2", best2)
        .select(
            F.col("_b2")[0]["cid"].alias("cluster"),
            F.sqrt(F.col("_b2")[0]["dist2"]).alias("a"),
            F.sqrt(F.col("_b2")[1]["dist2"]).alias("b"),
        )
        .select(
            "cluster",
            F.round(
                (F.col("b") - F.col("a"))
                / F.greatest(F.greatest(F.col("a"), F.col("b")), F.lit(1e-12)),
                4,
            ).alias("sil"),
        )
    )
    return (
        pt.groupBy(F.col("cluster").cast("bigint").alias("cluster"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.round(F.avg("sil"), 4).alias("mean_silhouette"),
            F.round(F.min("sil"), 4).alias("worst_silhouette"),
        )
    )
