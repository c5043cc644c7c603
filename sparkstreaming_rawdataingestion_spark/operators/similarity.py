"""Vector similarity search over ``embeddings`` (BASELINE.json north star;
cf. PAPERS.md EDBT'20 / ICDE'21 top-k similarity search).

Three paths, one semantics:

- **brute force** — exact cosine top-k: broadcast the (small) query set,
  scan all vectors once, per-query row_number window. O(n·q) with a single
  scan; this is the in-bucket kernel and the ground truth.
- **random-hyperplane LSH** — 32 fixed hyperplanes give a signature;
  8 bands × 4 bits bucket the vectors; only bucket-mates of a query are
  ranked. Candidate generation is an equi-join on (band, bucket) — never a
  cross join — so cost follows bucket occupancy, not n².
- **IVF** — coarse k-means quantizer (deterministic seeding + one Lloyd
  iteration), inverted lists keyed by nearest centroid, queries probe
  their IVF_NPROBE closest lists. Search touches ~nprobe/K of the corpus;
  cluster_id doubles as the partition key for the lists at scale.

All vector math is built-in column algebra (zip_with/aggregate on
array<double>) — JVM-side, no Python UDF in the scan.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..session import spread_small_scan, stage
from .dedup import COSINE_THRESHOLD, cosine

QUERIES: dict = {}
ORACLES: dict = {}

TOP_K = 10
N_QUERIES = 5  # query set: vec_id < 5
EMB_DIM = 64
# 8 bands × 4 bits: for a pair at cosine s, per-plane collision prob is
# p = 1 - arccos(s)/π, band prob p⁴, candidate prob 1-(1-p⁴)⁸ — ≈ 0.79 at
# s = 0.45 on this near-orthogonal fixture corpus (max pairwise cosine
# ≈ 0.51; real embedding corpora cluster much tighter, pushing p → 1 for
# true neighbors and recall → 1 with far fewer probes). Band width is the
# recall/selectivity dial: wider bands = fewer candidates, lower recall.
N_PLANES = 32
LSH_BANDS = 8
LSH_BITS = N_PLANES // LSH_BANDS  # 4-bit band buckets


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _hyperplanes() -> list[list[float]]:
    """N_PLANES fixed pseudo-random unit hyperplanes in EMB_DIM dims —
    deterministic LCG, frozen; same planes on every run and every node."""
    state = 0x9E3779B97F4A7C15
    planes = []
    for _ in range(N_PLANES):
        v = []
        for _ in range(EMB_DIM):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # uniform in [-1, 1)
            v.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


HYPERPLANES = _hyperplanes()


def _emb_double(col: str = "embedding") -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot_literal_sql(col: str, plane: list[float]) -> str:
    """SQL text of the plane dot product — parses to the same tree the
    former Column form built (zip_with over a literal double array,
    left-fold sum seeded 0.0), so signs/buckets are bit-identical; built
    as ONE string so the whole 32-plane band array costs one py4j round
    trip instead of ~2000 (round 15, guide §4 — the r15 sweep measured
    similarity_topk_lsh at 7.7 s of pure plan construction)."""
    lits = ", ".join(f"{x!r}D" for x in plane)
    return (
        f"aggregate(zip_with({col}, array({lits}), (a, b) -> a * b), "
        f"0.0D, (s, v) -> s + v)"
    )


def rp_bands(col: str) -> Column:
    """Array of LSH_BANDS (band_idx, bucket) structs for the vector in
    column ``col``: bucket = the band's LSH_BITS sign bits packed into an
    int. One JVM-parsed expression string (module note on
    _dot_literal_sql), so ``col`` must be a column NAME: a ``Column``
    would be spliced into the SQL text as its repr."""
    if not isinstance(col, str):
        raise TypeError(
            f"rp_bands expects a column name (str), got {type(col).__name__}"
        )
    bits = [
        f"(CASE WHEN {_dot_literal_sql(col, HYPERPLANES[p])} >= 0"
        f" THEN 1 ELSE 0 END)"
        for p in range(N_PLANES)
    ]
    bands = []
    for b in range(LSH_BANDS):
        bucket = " + ".join(
            f"({bits[b * LSH_BITS + i]} * {1 << i})" for i in range(LSH_BITS)
        )
        bands.append(f"named_struct('band', {b}, 'bucket', {bucket})")
    return F.expr(f"array({', '.join(bands)})")


_BRUTEFORCE_ORACLE = f"""
SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk,
       round(s, 6) AS cosine_sim
FROM (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) AS s,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[],
                                                 v.embedding::DOUBLE[]), 9) DESC,
                    v.vec_id) AS rk
  FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES})
WHERE rk <= {TOP_K}
"""


@_register("similarity_topk_bruteforce", _BRUTEFORCE_ORACLE)
def q_similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: one scan of the corpus against a broadcast query
    set, per-query heap via row_number (WindowGroupLimit pushes the k-limit
    into the sort). Ties broken by (rounded score, neighbor id) so ranking
    is identical on any partitioning and in the oracle."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _emb_double().alias("q_emb")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), _emb_double().alias("v_emb")
    )
    sim = cosine(F.col("q_emb"), F.col("v_emb"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("s"), 9).desc(), F.col("neighbor_id")
    )
    return (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("s"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rk").cast("long").alias("rk"),
            F.round(F.col("s"), 6).alias("cosine_sim"),
        )
    )


@_register("similarity_topk_lsh")  # approximate → rows-only; recall pinned in tests
def q_similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k. Vectors and queries are banded by
    random-hyperplane signature; candidates = bucket-mates in ≥1 band;
    exact cosine ranks the candidates. At 100 TB the banded join touches
    only colliding buckets — the corpus scan parallelizes and nothing
    quadratic materializes. Recall vs the exact operator is asserted in
    tests (≥0.9 at the fixture's scale)."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        _emb_double().alias("v_emb"),
    ).withColumn("bb", F.explode(rp_bands("v_emb"))).select(
        "neighbor_id", "v_emb", "bb.band", "bb.bucket"
    )
    queries = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), _emb_double().alias("q_emb"))
        .withColumn("bb", F.explode(rp_bands("q_emb")))
        .select("query_id", "q_emb", "bb.band", "bb.bucket")
    )
    candidates = (
        corpus.join(F.broadcast(queries), ["band", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_emb", "neighbor_id", "v_emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sim = cosine(F.col("q_emb"), F.col("v_emb"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("s"), 9).desc(), F.col("neighbor_id")
    )
    return (
        candidates.select("query_id", "neighbor_id", sim.alias("s"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rk").cast("long").alias("rk"),
            F.round(F.col("s"), 6).alias("cosine_sim"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

IVF_CLUSTERS = 16
IVF_NPROBE = 4


IVF_LLOYD_ITERS = 2


def ivf_centroids(corpus: DataFrame, n_iters: int = IVF_LLOYD_ITERS) -> DataFrame:
    """Deterministic coarse quantizer: seed with the K lowest-id vectors,
    then ``n_iters`` Lloyd iterations (assign-all → element-wise mean).
    All built-in ops: the element-wise mean is posexplode →
    groupBy(cluster, dim) → re-assemble; each iteration's centroids are
    staged so the next assignment pass starts from materialized state.
    At 100 TB you train the quantizer on a sample, then assignment is a
    single broadcast-join scan."""
    centroids = (
        corpus.orderBy("neighbor_id")
        .limit(IVF_CLUSTERS)
        .select(
            F.row_number()
            .over(Window.orderBy("neighbor_id"))
            .alias("cluster_id"),
            F.col("v_emb").alias("centroid"),
        )
    )
    for _ in range(n_iters):
        assigned = assign_clusters(corpus, centroids)
        dims = assigned.select(
            "cluster_id", F.posexplode("v_emb").alias("dim", "val")
        )
        means = dims.groupBy("cluster_id", "dim").agg(F.avg("val").alias("m"))
        centroids = stage(
            means.groupBy("cluster_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("dm")
            )
            .select(
                "cluster_id",
                F.transform(F.col("dm"), lambda s: s["m"]).alias("centroid"),
            )
        )
    return centroids


def assign_clusters(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid table,
    one scan, max_by over the K cosines per vector."""
    sim = cosine(F.col("v_emb"), F.col("centroid"))
    return (
        corpus.crossJoin(F.broadcast(centroids))
        .select("neighbor_id", "v_emb", "cluster_id", sim.alias("cs"))
        .groupBy("neighbor_id")
        .agg(
            F.max_by("cluster_id", "cs").alias("cluster_id"),
            F.first("v_emb").alias("v_emb"),
        )
    )


@_register("similarity_topk_ivf")  # approximate → rows-only; recall in tests
def q_similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k: corpus bucketed by nearest centroid; each query probes
    its IVF_NPROBE closest clusters and ranks only those lists. Search
    cost drops to ~nprobe/K of the corpus per query; the inverted lists
    are the partition layout at scale (cluster_id as partition key)."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), _emb_double().alias("v_emb")
    )
    centroids = stage(ivf_centroids(corpus))
    inverted = assign_clusters(corpus, centroids)

    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _emb_double().alias("q_emb")
    )
    qsim = cosine(F.col("q_emb"), F.col("centroid"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("qcs").desc(), F.col("cluster_id")
    )
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select("query_id", "q_emb", "cluster_id", qsim.alias("qcs"))
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= IVF_NPROBE)
        .select("query_id", "q_emb", "cluster_id")
    )
    sim = cosine(F.col("q_emb"), F.col("v_emb"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("s"), 9).desc(), F.col("neighbor_id")
    )
    return (
        probes.join(inverted, "cluster_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("s"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rk").cast("long").alias("rk"),
            F.round(F.col("s"), 6).alias("cosine_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Vector scalar algebra — the per-row embedding ops (norms, dot products,
# distances, normalization) every vector pipeline composes before any
# search structure. Pure higher-order-function column algebra; map-only.
# ---------------------------------------------------------------------------


@_register(
    "vector_algebra_pack",
    """
SELECT vec_id,
       round(sqrt(list_inner_product(a, a)), 6)          AS l2_norm,
       round(list_inner_product(a, b), 6)                AS dot_ab,
       round(list_cosine_similarity(a, b), 6)            AS cos_ab,
       round(list_distance(a, b), 6)                     AS l2_dist,
       round(a[1] / sqrt(list_inner_product(a, a)), 6)   AS unit_first
FROM (SELECT vec_id,
             CAST(embedding AS DOUBLE[])                 AS a,
             list_reverse(CAST(embedding AS DOUBLE[]))   AS b
      FROM embeddings)
""",
)
def q_vector_algebra_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm, dot product, cosine, euclidean distance, and unit-vector
    component over (embedding, reversed embedding) pairs. All JVM-side
    (zip_with/aggregate) — the same expressions the top-k operators build
    on, exposed as a standalone scalar pack."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    a = _emb_double()
    b = F.reverse(_emb_double())
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
    )
    paired = e.select("vec_id", a.alias("a"), b.alias("b"))
    norm_a = F.sqrt(dot(F.col("a"), F.col("a")))
    return paired.select(
        "vec_id",
        F.round(norm_a, 6).alias("l2_norm"),
        F.round(dot(F.col("a"), F.col("b")), 6).alias("dot_ab"),
        F.round(cosine(F.col("a"), F.col("b")), 6).alias("cos_ab"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("a"), F.col("b"), lambda p, q: (p - q) * (p - q)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
            6,
        ).alias("l2_dist"),
        # try_divide: the zero vector has no unit direction → NULL
        F.round(F.try_divide(F.element_at("a", 1), norm_a), 6).alias(
            "unit_first"
        ),
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization — the storage/serving compression step a
# vector pipeline runs before writing an index. Symmetric per-vector
# scheme: scale = max|v|/127, q = clamp(floor(v/scale + 0.5), ±127).
# floor(x + 0.5) is used instead of round() on BOTH sides so the
# half-way rule is engine-independent. Map-only column algebra.
# ---------------------------------------------------------------------------


@_register(
    "embedding_quantization",
    """
WITH q AS (
  SELECT vec_id, a,
         list_max(list_transform(a, x -> abs(x))) / 127.0 AS scale
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS a FROM embeddings)),
dq AS (
  SELECT vec_id, a, scale,
         -- coalesce/nullif: a zero vector has scale 0 → dq = 0
         list_transform(a, x -> greatest(least(floor(
             coalesce(x / nullif(scale, 0), 0.0) + 0.5),
                                               127.0), -127.0) * scale) AS d
  FROM q)
SELECT vec_id,
       round(scale, 9)                                            AS scale,
       round(list_max(list_transform(list_zip(a, d),
             p -> abs(p[1] - p[2]))), 9)                  AS max_abs_err,
       round(list_cosine_similarity(a, d), 6)                     AS cos_preserved
FROM dq
""",
)
def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization with reconstruction-error
    report: scale = max|v|/127, quantize, dequantize, then emit the max
    absolute error and the cosine between original and reconstruction.
    One map-only scan (transform/zip_with/aggregate — no UDF, no
    shuffle); at 100 TB this is the compression pass before the IVF
    lists are written, and it fuses into the same scan stage."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    a = F.col("a")
    scale = F.array_max(F.transform(a, F.abs)) / F.lit(127.0)
    base = e.select("vec_id", _emb_double().alias("a")).select(
        "vec_id", a, scale.alias("scale")
    )
    dq = F.transform(
        a,
        # coalesce(try_divide): a zero vector has scale 0 → dq = 0
        lambda x: F.greatest(
            F.least(
                F.floor(
                    F.coalesce(F.try_divide(x, F.col("scale")), F.lit(0.0))
                    + 0.5
                ).cast("double"),
                F.lit(127.0),
            ),
            F.lit(-127.0),
        )
        * F.col("scale"),
    )
    return base.select("vec_id", a, "scale", dq.alias("d")).select(
        "vec_id",
        F.round(F.col("scale"), 9).alias("scale"),
        F.round(
            F.array_max(F.zip_with(a, F.col("d"), lambda p, q: F.abs(p - q))), 9
        ).alias("max_abs_err"),
        F.round(cosine(a, F.col("d")), 6).alias("cos_preserved"),
    )


# ---------------------------------------------------------------------------
# Product quantization — PQ codebooks, ADC shortlist, exact re-rank
# ---------------------------------------------------------------------------

PQ_M = 8                      # subspaces (64 dims → 8 × 8-dim blocks)
PQ_K = 16                     # codes per subspace (4-bit codes)
PQ_SUBDIM = EMB_DIM // PQ_M
PQ_LLOYD_ITERS = 2
# ADC candidates re-ranked exactly. The shortlist is the recall dial:
# on this deliberately near-orthogonal fixture (recon cosine ≈ 0.65 —
# the HARD case for PQ) measured recall@10 at sf0.01 is 0.74/0.94/0.98
# for shortlist 50/100/150 with full-corpus-trained codebooks, and 0.94
# at 150 with the 1/PQ_TRAIN_MOD sampled training below (0.80 at 100 —
# sampling 125 of 500 training vectors costs codebook quality in this
# tiny verification corpus; at real corpus sizes the sample is large).
# Real embedding corpora cluster far tighter, so the production
# fraction is much smaller than the 30% used here.
PQ_SHORTLIST = 150


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subvectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Explode each vector into its PQ_M subspace blocks: (id, m, sv)."""
    blocks = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(F.col(vec_col), m * PQ_SUBDIM + 1, PQ_SUBDIM).alias(
                    "sv"
                ),
            )
            for m in range(PQ_M)
        ]
    )
    return df.select(
        F.col(id_col), F.explode(blocks).alias("b")
    ).select(id_col, F.col("b.m").alias("m"), F.col("b.sv").alias("sv"))


#: deterministic training sample: vectors with id ≡ 0 (mod this). The
#: production shape the docstring promises — Lloyd never touches the full
#: corpus, only the final encode does. 1/4 keeps ≥ PQ_K training points
#: per subspace at every fixture SF; measured: same 0.94 recall@10,
#: training cost ×4 lower (7.1 s → see bench docstring).
PQ_TRAIN_MOD = 4


def pq_codebooks(corpus: DataFrame, n_iters: int = PQ_LLOYD_ITERS) -> DataFrame:
    """Deterministic per-subspace codebooks trained on a deterministic
    1/PQ_TRAIN_MOD id-sample of the corpus: seed each subspace with its
    PQ_K lowest-id sampled subvectors, then Lloyd iterations run for ALL
    subspaces at once (m is just another grouping key — one assignment
    pass and one mean aggregation per iteration, not M of them; the
    subvector rides the assignment aggregate, so no per-iteration
    re-join against the training set). Returns (m, code, centroid);
    encoding the FULL corpus is then a single broadcast-join scan."""
    sample = corpus.where(
        F.col("neighbor_id") % F.lit(PQ_TRAIN_MOD) == 0
    )
    sub = stage(_subvectors(sample, "neighbor_id", "v_emb"))
    seed_w = Window.partitionBy("m").orderBy("neighbor_id")
    books = (
        sub.withColumn("rn", F.row_number().over(seed_w))
        .where(F.col("rn") <= PQ_K)
        .select("m", F.col("rn").alias("code"), F.col("sv").alias("centroid"))
    )
    for _ in range(n_iters):
        d = _l2sq(F.col("sv"), F.col("centroid"))
        assigned = (
            sub.join(F.broadcast(books), "m")
            .select(
                "neighbor_id",
                "m",
                "sv",
                F.struct(F.round(d, 9).alias("d"), F.col("code")).alias("dc"),
            )
            .groupBy("neighbor_id", "m")
            .agg(
                F.min("dc").getField("code").alias("code"),
                F.first("sv").alias("sv"),  # constant within the group
            )
        )
        # Per-dim means as ONE array-of-avgs aggregate (round 14, guide
        # §2.3/§2.4): the former posexplode → groupBy(m, code, dim) →
        # collect_list → array_sort chain paid a dim-exploded shuffle
        # plus a second aggregation per iteration to reassemble the
        # centroid array; avg per element over the un-exploded
        # subvector is the same mean with one groupBy and no explode.
        books = stage(
            assigned.groupBy("m", "code").agg(
                F.array(
                    *[
                        F.avg(F.element_at("sv", i))
                        for i in range(1, PQ_SUBDIM + 1)
                    ]
                ).alias("centroid")
            )
        )
    return books


def pq_encode(sub: DataFrame, books: DataFrame) -> DataFrame:
    """Nearest-code assignment per (vector, subspace): broadcast the
    M×K codebook, min-distance with deterministic (dist, code) ties.
    Output (neighbor_id, m, code) — the 4-bit-per-subspace compressed
    representation (8 codes ≈ 4 bytes/vector vs 256 for raw floats)."""
    d = _l2sq(F.col("sv"), F.col("centroid"))
    return (
        sub.join(F.broadcast(books), "m")
        .select(
            "neighbor_id",
            "m",
            F.struct(F.round(d, 9).alias("d"), F.col("code")).alias("dc"),
        )
        .groupBy("neighbor_id", "m")
        .agg(F.min("dc").getField("code").alias("code"))
    )


@_register("similarity_topk_pq")  # approximate → rows-only; recall in tests
def q_similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-k: asymmetric-distance (ADC) shortlist over 4-byte PQ
    codes, then exact re-rank of the shortlist — the standard
    compressed-index search pipeline (cf. IVF-PQ).

    Scale shape: the corpus-sized side of the search carries ONLY
    (id, m, code) triples — never float arrays; per-query partial dots
    and squared centroid norms come from a broadcast (query × M × K)
    lookup table built once per query set, and the ADC score is one
    (query, id) aggregation of M partials:
    dot(q, recon) = Σ_m dot(q_m, c_{m,code}), ‖recon‖² = Σ_m ‖c_{m,code}‖².
    Only the PQ_SHORTLIST survivors per query touch original vectors for
    the exact re-rank. No reconstruction materializes anywhere."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), _emb_double().alias("v_emb")
    )
    books = stage(pq_codebooks(corpus))
    codes = pq_encode(
        _subvectors(corpus, "neighbor_id", "v_emb"), books
    )

    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _emb_double().alias("q_emb")
    )
    qnorm = queries.select(
        "query_id",
        F.sqrt(
            F.aggregate(
                F.col("q_emb"), F.lit(0.0), lambda a, x: a + x * x
            )
        ).alias("qn"),
    )
    qsub = _subvectors(queries, "query_id", "q_emb").withColumnRenamed(
        "sv", "qv"
    )
    lut = (
        qsub.join(books, "m")
        .select(
            "query_id",
            "m",
            "code",
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: x * y),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("pdot"),
            F.aggregate(
                F.col("centroid"), F.lit(0.0), lambda a, x: a + x * x
            ).alias("c2"),
        )
    )
    scores = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pdot").alias("sdot"), F.sum("c2").alias("r2"))
        .join(F.broadcast(qnorm), "query_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            # try_divide: zero-norm query/codes → NULL (sorts last)
            F.try_divide(
                F.col("sdot"), F.col("qn") * F.sqrt(F.col("r2"))
            ).alias("adc_cos"),
        )
    )
    sw = Window.partitionBy("query_id").orderBy(
        F.round(F.col("adc_cos"), 9).desc(), F.col("neighbor_id")
    )
    shortlist = (
        scores.withColumn("sr", F.row_number().over(sw))
        .where(F.col("sr") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    exact = (
        shortlist.join(corpus, "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_emb"), F.col("v_emb")).alias("s"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("s"), 9).desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rk").cast("long").alias("rk"),
            F.round(F.col("s"), 6).alias("cosine_sim"),
        )
    )


@_register("pq_reconstruction_report")  # engine-trained codebooks → rows-only
def q_pq_reconstruction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PQ fidelity report: per-subspace quantization MSE and
    the corpus mean/min cosine between each vector and its PQ
    reconstruction — the acceptance gate run before swapping an index to
    compressed codes. One codebook training + one encode pass; the
    per-vector cosine aggregates (id-grouped) shuffle scalar partials,
    not arrays."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), _emb_double().alias("v_emb")
    )
    books = stage(pq_codebooks(corpus))
    sub = _subvectors(corpus, "neighbor_id", "v_emb")
    joined = pq_encode(sub, books).join(sub, ["neighbor_id", "m"]).join(
        F.broadcast(books), ["m", "code"]
    )
    per_sub = joined.select(
        "neighbor_id",
        "m",
        _l2sq(F.col("sv"), F.col("centroid")).alias("errsq"),
        F.aggregate(
            F.zip_with(F.col("sv"), F.col("centroid"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("pdot"),
        F.aggregate(F.col("sv"), F.lit(0.0), lambda a, x: a + x * x).alias(
            "v2"
        ),
        F.aggregate(
            F.col("centroid"), F.lit(0.0), lambda a, x: a + x * x
        ).alias("c2"),
    )
    per_vec = per_sub.groupBy("neighbor_id").agg(
        F.try_divide(
            F.sum("pdot"), F.sqrt(F.sum("v2")) * F.sqrt(F.sum("c2"))
        ).alias("recon_cos"),
        F.sum("errsq").alias("errsq"),
    )
    return per_vec.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("recon_cos"), 6).alias("mean_recon_cos"),
        F.round(F.min("recon_cos"), 6).alias("min_recon_cos"),
        F.round(F.avg("errsq"), 6).alias("mean_sq_err"),
    )


# ---------------------------------------------------------------------------
# label_centroid_similarity — pairwise cosine between class centroids
# ---------------------------------------------------------------------------

_CENTROID_SIM_ORACLE = """
WITH cent AS (
  SELECT label, i AS idx,
         round(avg(CAST(embedding[i] AS DOUBLE)), 9) AS c
  -- fixture embeddings are fixed-width (len 64 asserted in pytest);
  -- DuckDB's generate_series cannot lateral-reference the array column
  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
  GROUP BY label, i
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.c * b.c) AS dot,
         sum(a.c * a.c) AS na2,
         sum(b.c * b.c) AS nb2
  FROM cent a JOIN cent b ON a.idx = b.idx AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS cosine_sim
FROM pairs
"""


@_register("label_centroid_similarity", _CENTROID_SIM_ORACLE)
def q_label_centroid_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids
    — the class-confusability / cluster-quality diagnostic run before
    using labels for stratified mixing. Centroid components are rounded
    to 9 dp BEFORE the cosine (the per-dimension avg is the only
    reduction-order float surface; pin the inputs, not the output).

    Plan: posexplode → one (label, dim) aggregation (map-side combined,
    |labels|×|dims| keys), then the pairwise join runs over the tiny
    centroid matrix — |labels|²·dims work, independent of corpus size."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    cent = (
        e.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .select("label", (F.col("pos") + 1).alias("idx"), F.col("col"))
        .groupBy("label", "idx")
        .agg(F.round(F.avg("col"), 9).alias("c"))
    )
    a = cent.select(
        F.col("label").alias("label_a"), "idx", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "idx", F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, "idx")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("na2"),
            F.sum(F.col("cb") * F.col("cb")).alias("nb2"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(
            F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2")), 6
        ).alias("cosine_sim"),
    )


# ---------------------------------------------------------------------------
# similarity_lsh_portable_pairs — ORACLE-BACKED random-hyperplane LSH
#
# The production LSH top-k above uses JVM-seeded hyperplanes (rows-only
# at the driver gate, recall pinned in pytest). This twin derives its 16
# hyperplanes from integer arithmetic — h_k[i] = ((k·64+i)·MIX) mod 2³²
# − 2³¹ — and computes every dot product as a SEQUENTIAL left fold
# (Spark ``aggregate`` over ``sequence`` == DuckDB ``list_reduce`` over a
# comprehension, identical operand order), so signatures, candidate sets
# and verified pairs are all bit-identical across engines: the whole LSH
# mechanism — banding, pigeonhole candidates, exact verify — becomes
# hash-checkable, not just its recall.
# ---------------------------------------------------------------------------

LSH_PORTABLE_BITS = 16
LSH_PORTABLE_BANDS = 4          # 4 bands × 4 bits
_LSH_MIX = 2654435761
_LSH_M32 = 4294967296
_LSH_DIMS = 64                  # fixture embedding width (pinned in pytest)


def _lsh_weight_sql(k: int) -> str:
    return (
        f"((({k} * {_LSH_DIMS} + i) * {_LSH_MIX}) % {_LSH_M32})"
        " - 2147483648.0"
    )


_LSH_PORTABLE_ORACLE = f"""
WITH sig AS (
  SELECT vec_id, embedding,
         ({" + ".join(
             f"(CASE WHEN list_reduce([0.0::DOUBLE] || "
             f"[CAST(embedding[i] AS DOUBLE) * ({_lsh_weight_sql(k)}) "
             f"FOR i IN range(1, {_LSH_DIMS + 1})], (acc, x) -> acc + x) "
             f">= 0 THEN {1 << k} ELSE 0 END)"
             for k in range(LSH_PORTABLE_BITS))}) AS s
  FROM embeddings
),
chunks AS (
  SELECT vec_id, embedding, s, b, (s >> (b * 4)) & 15 AS chunk
  FROM sig, unnest([0, 1, 2, 3]) AS u(b)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         any_value(a.embedding) AS ea, any_value(b.embedding) AS eb
  FROM chunks a JOIN chunks b
    ON a.b = b.b AND a.chunk = b.chunk AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
scored AS (
  SELECT vec_a, vec_b,
         list_reduce([0.0::DOUBLE] ||
           [CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)
            FOR i IN range(1, {_LSH_DIMS + 1})], (acc, x) -> acc + x)
         / (sqrt(list_reduce([0.0::DOUBLE] ||
              [CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)
               FOR i IN range(1, {_LSH_DIMS + 1})], (acc, x) -> acc + x))
            * sqrt(list_reduce([0.0::DOUBLE] ||
              [CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)
               FOR i IN range(1, {_LSH_DIMS + 1})], (acc, x) -> acc + x)))
           AS cos
  FROM cand
)
SELECT vec_a, vec_b, round(cos, 6) AS cosine_sim
FROM scored WHERE cos >= {COSINE_THRESHOLD}
"""


def lsh_portable_sig(col: str = "embedding") -> Column:
    """16-bit portable LSH signature of the vector in column ``col`` —
    round 15 (guide §4): the 16 fold-dot sign terms as ONE JVM-parsed
    SQL string (was ~16 lambda Column builds, a py4j round trip per
    node — 7.9 s of plan construction in the r15 sweep). The parsed
    tree is the same sequential left fold with the same integer plane
    weights, so signatures stay bit-identical and the oracle hash-match
    holds (re-verified; equivalence pinned in tests/test_round15_ops.py)."""

    def dot_sql(k: int) -> str:
        return (
            f"aggregate(transform(sequence(1, {_LSH_DIMS}), "
            f"i -> CAST(element_at({col}, i) AS DOUBLE) * "
            f"(((({k} * {_LSH_DIMS}) + CAST(i AS BIGINT)) * {_LSH_MIX}) "
            f"% {_LSH_M32} - 2147483648.0D)), "
            f"0.0D, (acc, x) -> acc + x)"
        )

    return F.expr(
        " + ".join(
            f"(CASE WHEN {dot_sql(k)} >= 0 THEN {1 << k} ELSE 0 END)"
            for k in range(LSH_PORTABLE_BITS)
        )
    )


def _seq_fold_dot(a, b):
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(_LSH_DIMS)),
            lambda i: F.element_at(a, i).cast("double")
            * F.element_at(b, i).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@_register("similarity_lsh_portable_pairs", _LSH_PORTABLE_ORACLE)
def q_similarity_lsh_portable_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Random-hyperplane LSH near-neighbor pairs, fully oracle-backed
    (module note above): 16 deterministic hyperplanes → 4×4-bit banded
    candidates → exact-cosine verification at τ = COSINE_THRESHOLD.
    Recall follows the SimHash collision law p = 1 − θ/π per bit (high
    for near-duplicate vectors, deliberately low near the threshold) —
    the brute-force operator is the recall ground truth; THIS operator
    proves the mechanism is deterministic. Same scale shape as the
    production path: map-side signatures, banded equi-join, verification
    only on candidates."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    sigs = stage(
        e.select("vec_id", "embedding", lsh_portable_sig().alias("s"))
    )
    chunks = sigs.select(
        "vec_id",
        "embedding",
        "s",
        F.explode(
            F.array(*[F.lit(b) for b in range(LSH_PORTABLE_BANDS)])
        ).alias("b"),
    ).select(
        "vec_id",
        "embedding",
        "b",
        F.expr("(s >> (b * 4)) & 15").alias("chunk"),
    )
    a = chunks.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        "b",
        "chunk",
    )
    bb = chunks.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        "b",
        "chunk",
    )
    cand = (
        a.join(bb, ["b", "chunk"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(F.any_value(F.col("ea")).alias("ea"),
             F.any_value(F.col("eb")).alias("eb"))
    )
    cos = _seq_fold_dot(F.col("ea"), F.col("eb")) / (
        F.sqrt(_seq_fold_dot(F.col("ea"), F.col("ea")))
        * F.sqrt(_seq_fold_dot(F.col("eb"), F.col("eb")))
    )
    return (
        cand.select("vec_a", "vec_b", cos.alias("cos"))
        .where(F.col("cos") >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine_sim"))
    )


# ---------------------------------------------------------------------------
# kmeans_one_step — one exact Lloyd iteration as a query
# ---------------------------------------------------------------------------

KMEANS_K = 8  # deterministic init: centroids = embeddings with vec_id < K


def kmeans_assign(
    vecs: DataFrame,
    cents: DataFrame,
    keep_embedding: bool = True,
    probes: int = 1,
    keep_rank: bool = False,
) -> DataFrame:
    """Deterministic nearest-centroid assignment — the shared Lloyd-step
    kernel behind ``kmeans_one_step`` and ``dedup_semantic_clusters``
    (SemDeDup composes it with within-cluster cosine pruning).

    ``vecs`` is (vec_id, ve: array<double>) plus any scalar payload
    columns the caller wants back; ``cents`` is (cid, ce). Returns one
    row per vector: (vec_id, cid, d2, <payload...>[, ve]). Squared L2
    is computed as three ordered inner products so the float expression
    is term-for-term identical to the DuckDB oracles; the argmin is
    made partition- and engine-stable by ranking on (round(d2, 9), cid).

    Scale shape: centroids broadcast (a model table — K rows), the
    distance fanout is map-side; the only shuffle is the per-vec_id
    row_number window — and its payload is ONLY what the caller needs
    downstream: pass keep_embedding=False (and project scalar payloads
    into ``vecs`` beforehand) when the array itself isn't used, so the
    window exchange carries 8-byte scalars instead of 8·d-byte arrays
    across all n·K candidate rows. K is a knob that scales with the
    corpus (SemDeDup runs ~10k-100k clusters at web scale) —
    per-cluster work downstream is bounded by n/K regardless."""

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    d2 = (
        dot(F.col("ve"), F.col("ve"))
        + dot(F.col("ce"), F.col("ce"))
        - 2 * dot(F.col("ve"), F.col("ce"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.round(F.col("d2"), 9), "cid")
    payload = [c for c in vecs.columns if c not in ("vec_id", "ve")]
    cols = ["vec_id", "cid", d2.alias("d2"), *payload] + (
        ["ve"] if keep_embedding else []
    )
    # probes > 1 is the IVF multi-probe form: one row per (vec, cid)
    # for the `probes` nearest centroids — recall against boundary
    # splits at `probes`x the downstream fan-out (the decon probe's
    # documented recall knob). probes=1 is exact Lloyd assignment.
    # keep_rank=True retains the probe rank column so a caller can
    # post-filter one side of a shared assignment (rk == 1 = the home
    # cluster) without a second corpus scan.
    out = (
        vecs.crossJoin(F.broadcast(cents))
        .select(*cols)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= probes)
    )
    return out if keep_rank else out.drop("rk")

_KMEANS_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
  FROM embeddings WHERE vec_id < {KMEANS_K}
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
d AS (
  -- |v-c|^2 via three ordered inner products (the same term order the
  -- engine's zip_with/aggregate kernel sums in)
  SELECT v.vec_id, c.cid,
         list_inner_product(ve, ve) + list_inner_product(ce, ce)
           - 2 * list_inner_product(ve, ce) AS d2,
         ve[1] AS dim0
  FROM v, c
),
assigned AS (
  SELECT vec_id, cid, d2, dim0,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(d2, 9), cid) AS rk
  FROM d
)
SELECT cid AS cluster_id,
       CAST(count(*) AS BIGINT)  AS n_members,
       round(avg(d2), 6)         AS mean_dist2,
       round(avg(dim0), 6)       AS centroid_dim0
FROM assigned WHERE rk = 1
GROUP BY cid
"""


@_register("kmeans_one_step", _KMEANS_ORACLE)
def q_kmeans_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd (k-means) iteration as a declarative query:
    assign every embedding to its nearest of {KMEANS_K} deterministic
    centroids (squared L2 via three ordered inner products; ties broken
    on rounded distance then centroid id, so the argmin is partition-
    and engine-stable), then recompute per-cluster statistics — member
    count, inertia contribution, and the first centroid coordinate as
    the recompute witness.

    Scale shape: centroids are a broadcast K-row table, the assignment
    is a map-side K-fanout (no shuffle), and the ONLY shuffle is the
    final K-key aggregation with map-side combine. An iterated k-means
    is this plan in a driver-side loop, exactly like graph.pagerank —
    per-iteration cost is one broadcast join + one tiny agg at any
    corpus size."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    cents = e.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), _emb_double().alias("ce")
    )
    # project the scalar dim0 BEFORE assignment so the per-vec_id
    # window shuffles (vec_id, cid, d2, dim0) — never the d-wide array
    vecs = e.select(
        "vec_id",
        _emb_double().alias("ve"),
        F.element_at(_emb_double(), 1).alias("dim0"),
    )
    assigned = kmeans_assign(vecs, cents, keep_embedding=False)
    return assigned.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.avg("d2"), 6).alias("mean_dist2"),
        F.round(F.avg("dim0"), 6).alias("centroid_dim0"),
    )


# ---------------------------------------------------------------------------
# pca_power_iteration_step — one exact power-method step as a query
# ---------------------------------------------------------------------------

_PCA_ORACLE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
n AS (SELECT count(*) AS n_vecs FROM v),
-- s_i = x_i . v0 with v0 = (1/8, ..., 1/8): same left-to-right sum
-- as the engine's aggregate fold
s AS (
  SELECT vec_id, ve,
         list_reduce([0.0e0] || ve, (acc, x) -> acc + x) * 0.125e0 AS s
  FROM v
),
comp AS (
  SELECT d.dim, CAST(sum(CAST(ve[d.dim] * s AS DECIMAL(32, 18))) AS DOUBLE)
                / (SELECT n_vecs FROM n) AS u_d
  FROM s, unnest(generate_series(1, len(ve))) AS d(dim)
  GROUP BY d.dim
),
nrm AS (
  SELECT sqrt(CAST(sum(CAST(u_d * u_d AS DECIMAL(32, 18))) AS DOUBLE))
           AS nrm
  FROM comp
)
SELECT CAST(dim AS INTEGER) AS dim,
       round(u_d, 6)              AS cov_component,
       round(u_d / (SELECT nrm FROM nrm), 6) AS v1
FROM comp
"""


@_register("pca_power_iteration_step", _PCA_ORACLE)
def q_pca_power_iteration_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact power-method step toward the corpus's top principal
    direction: u = (1/n) Σᵢ xᵢ(xᵢ·v₀) (the covariance-times-vector
    product, uncentered Gram form) with the deterministic start
    v₀ = 1/8·𝟙, then the normalized v₁ per dimension. The embedding-
    spectrum primitive behind whitening, ABTT outlier-direction removal
    and anisotropy checks on embedding corpora.

    Scale shape: xᵢ·v₀ is a map-side fold; the per-dimension reduction
    shuffles (dim, DECIMAL) pairs — 64 keys, map-side combine — and the
    normalization runs over the 64-row component table. DECIMAL(32,18)
    accumulation makes every sum exact under any reduction order, which
    is what lets an iterative linear-algebra step hash-match an ANSI
    oracle (same discipline as the integer fixed-point PageRank).
    Iterating = this plan in a driver loop, one tiny shuffle per step."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    vecs = e.select("vec_id", _emb_double().alias("ve"))
    n = vecs.agg(F.count(F.lit(1)).alias("n_vecs"))
    s = vecs.select(
        "vec_id",
        "ve",
        (
            F.aggregate(
                F.col("ve"), F.lit(0.0), lambda acc, x: acc + x
            )
            * 0.125
        ).alias("s"),
    )
    comp = (
        s.select(F.posexplode("ve").alias("dim0", "x"), "s")
        .select((F.col("dim0") + 1).alias("dim"), "x", "s")
        .groupBy("dim")
        .agg(
            F.sum((F.col("x") * F.col("s")).cast("decimal(32,18)"))
            .cast("double")
            .alias("num")
        )
        .crossJoin(F.broadcast(n))
        .select("dim", (F.col("num") / F.col("n_vecs")).alias("u_d"))
    )
    nrm = comp.agg(
        F.sqrt(
            F.sum((F.col("u_d") * F.col("u_d")).cast("decimal(32,18)"))
            .cast("double")
        ).alias("nrm")
    )
    return comp.crossJoin(F.broadcast(nrm)).select(
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("u_d"), 6).alias("cov_component"),
        F.round(F.col("u_d") / F.col("nrm"), 6).alias("v1"),
    )


# ---------------------------------------------------------------------------
# embedding_int8_report — symmetric int8 scalar quantization + fidelity
# ---------------------------------------------------------------------------

# Symmetric max-abs int8 quantization — the standard 4x storage cut for
# embedding tables (float32 -> int8 codes + one float scale per vector)
# and the cheap sibling of PQ: PQ buys ~32x at recall cost, int8 buys 4x
# nearly free. The registered query is the per-vector FIDELITY report
# (the acceptance gate a 100 TB re-encode runs before committing);
# the codes themselves come from the embedding_int8_quantize kernel.
#
# code_i = floor(x_i * 127 / amax + 0.5) (half-up; floor of identical
# doubles is engine-exact, unlike round(DOUBLE, n) tie-breaking), and
# the error algebra is mirrored term for term: err_i = x_i - code_i *
# amax / 127. Per-element double algebra on identical inputs is safe;
# the cross-dim sum accumulates in DECIMAL(32,18) (the PSI pattern).

_INT8_ORACLE = """
WITH el AS (
  SELECT vec_id,
         CAST(u.x AS DOUBLE) AS x,
         list_aggregate(list_transform(embedding,
                                       v -> abs(CAST(v AS DOUBLE))),
                        'max') AS amax
  FROM embeddings, unnest(embedding) AS u(x)
),
err AS (
  SELECT vec_id, amax,
         CASE WHEN amax = 0 THEN 0.0e0
              ELSE x - floor(x * 127.0e0 / amax + 0.5e0) * amax / 127.0e0
         END AS e
  FROM el
)
SELECT vec_id,
       CAST(count(*) AS BIGINT) AS n_dims,
       round(CASE WHEN max(amax) = 0 THEN NULL
                  ELSE 127.0e0 / max(amax) END, 6) AS scale,
       round(CAST(sum(CAST(e * e AS DECIMAL(32,18))) AS DOUBLE)
             / count(*) * 1.0e6, 6) AS mse_ppm,
       round(max(abs(e)) * 1.0e6, 6) AS max_abs_err_ppm
FROM err
GROUP BY vec_id
"""


@_register("embedding_int8_report", _INT8_ORACLE)
def q_embedding_int8_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization fidelity: dim count, the symmetric
    scale (127/amax), reconstruction MSE and worst-dimension error
    (both in ppm — raw values are ~1e-6 and would vanish at 6 dp).

    Plan: amax is a map-side array fold (max is order-independent and
    exact — no shuffle to learn the scale); elements then explode into
    ONE vec-keyed aggregation. A zero vector quantizes losslessly to
    zeros (scale NULL, errors 0) rather than tripping ANSI division."""
    return embedding_int8_report(
        spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    )


def embedding_int8_report(e: DataFrame) -> DataFrame:
    """Parameterized fidelity kernel behind ``embedding_int8_report``."""
    amax = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
    )
    el = e.select(
        "vec_id",
        amax.alias("amax"),
        F.explode("embedding").alias("xf"),
    ).select("vec_id", "amax", F.col("xf").cast("double").alias("x"))
    err = F.when(F.col("amax") == 0, F.lit(0.0)).otherwise(
        F.col("x")
        - F.floor(F.col("x") * F.lit(127.0) / F.col("amax") + F.lit(0.5))
        * F.col("amax")
        / F.lit(127.0)
    )
    g = el.select("vec_id", "amax", err.alias("e")).groupBy("vec_id")
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.round(
            F.when(F.max("amax") == 0, F.lit(None)).otherwise(
                F.lit(127.0) / F.max("amax")
            ),
            6,
        ).alias("scale"),
        F.round(
            F.sum((F.col("e") * F.col("e")).cast("decimal(32,18)"))
            .cast("double")
            / F.count(F.lit(1))
            * F.lit(1.0e6),
            6,
        ).alias("mse_ppm"),
        F.round(F.max(F.abs("e")) * F.lit(1.0e6), 6).alias(
            "max_abs_err_ppm"
        ),
    )


def embedding_int8_quantize(e: DataFrame) -> DataFrame:
    """The quantization itself: (vec_id, codes array<int>, amax) with
    code_i = floor(x_i*127/amax + 0.5) — map-only (two array ops per
    row, no shuffle at all), the shape a 100 TB re-encode wants. Zero
    vectors emit all-zero codes with amax 0."""
    amax = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
    )
    codes = F.transform(
        "embedding",
        lambda x: F.when(F.col("amax") == 0, F.lit(0))
        .otherwise(
            F.floor(
                x.cast("double") * F.lit(127.0) / F.col("amax") + F.lit(0.5)
            )
        )
        .cast("int"),
    )
    return e.select("vec_id", amax.alias("amax"), "embedding").select(
        "vec_id", codes.alias("codes"), "amax"
    )


# ---------------------------------------------------------------------------
# similarity_pq_portable_topk — ORACLE-BACKED product quantization
#
# The production PQ path above trains codebooks with Lloyd iterations
# over JVM-scheduled float sums (rows-only at the driver gate; recall
# and reconstruction fidelity pinned in pytest). This twin is the
# similarity_lsh_portable_pairs recipe applied to PQ: deterministic
# INTEGER codebooks (a closed-form mix formula, no training) and
# integer-quantized vectors, so every distance, every code assignment
# and every ADC partial is an exact BIGINT — order-independent sums
# that DuckDB replays bit-identically. The whole ADC mechanism —
# subspace decomposition, nearest-code assignment with tie-breaks,
# lookup-table search, ranking — becomes hash-checkable; the
# production path keeps Lloyd-trained codebooks for real quality.
# ---------------------------------------------------------------------------

PQP_SCALE = 4096          # embedding quantization: floor(x * 4096 + 0.5)
PQP_CRANGE = 4096         # centroid values in [-4096, 4096]
_PQP_MIX = 2654435761
_PQP_M32 = 4294967296


def _pqp_centroid_expr(lin):
    """The centroid mix over a precomputed non-negative linear index —
    ONE definition shared by the Python codebook twin and the Spark
    Column LUT leg (both call it through operator overloading; % is
    identical for non-negative operands on both sides), so the two
    can no longer silently diverge (r11 advice)."""
    return lin * _PQP_MIX % _PQP_M32 % (2 * PQP_CRANGE + 1) - PQP_CRANGE


def _pqp_centroid(m, code, i):
    """Integer centroid value for (subspace m, code, 1-based subdim i):
    a quadratic-free linear mix is enough here because no two (m, code,
    i) triples may collide IN AGGREGATE over 8 dims, not per-value —
    and the integer arithmetic is the point (exact on both engines)."""
    lin = (m * PQ_K + code) * PQ_SUBDIM + i - 1
    return _pqp_centroid_expr(lin)


def _pqp_centroid_sql(m: str, code: str, i: str) -> str:
    return (
        f"((({m}) * {PQ_K} + ({code})) * {PQ_SUBDIM} + ({i}) - 1)"
        f" * {_PQP_MIX} % {_PQP_M32} % {2 * PQP_CRANGE + 1} - {PQP_CRANGE}"
    )


_PQP_ORACLE = f"""
WITH subdims AS (
  SELECT vec_id, m.m AS m, i.i AS i,
         CAST(floor(CAST(embedding[m.m * {PQ_SUBDIM} + i.i] AS DOUBLE)
                    * {PQP_SCALE} + 0.5) AS BIGINT) AS ei
  FROM embeddings, range({PQ_M}) m(m), range(1, {PQ_SUBDIM + 1}) i(i)
),
cents AS (
  SELECT m.m AS m, k.k AS code, i.i AS i,
         {_pqp_centroid_sql("m.m", "k.k", "i.i")} AS c
  FROM range({PQ_M}) m(m), range({PQ_K}) k(k),
       range(1, {PQ_SUBDIM + 1}) i(i)
),
dists AS (
  SELECT s.vec_id, s.m, c.code,
         sum((s.ei - c.c) * (s.ei - c.c)) AS d
  FROM subdims s JOIN cents c ON c.m = s.m AND c.i = s.i
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, code
  FROM (SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d, code) AS rn
        FROM dists)
  WHERE rn = 1
),
lut AS (
  SELECT s.vec_id AS query_id, s.m, c.code,
         sum(s.ei * c.c) AS pdot, sum(c.c * c.c) AS c2
  FROM subdims s JOIN cents c ON c.m = s.m AND c.i = s.i
  WHERE s.vec_id < {N_QUERIES}
  GROUP BY 1, 2, 3
),
qn AS (
  SELECT vec_id AS query_id, sum(ei * ei) AS qn2
  FROM subdims WHERE vec_id < {N_QUERIES} GROUP BY 1
),
scores AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         sum(l.pdot) AS sdot, sum(l.c2) AS r2
  FROM codes cd JOIN lut l ON l.m = cd.m AND l.code = cd.code
  WHERE cd.vec_id != l.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT s.query_id, s.neighbor_id,
         CAST(s.sdot AS DOUBLE)
           / nullif(sqrt(CAST(q.qn2 AS DOUBLE))
                    * sqrt(CAST(s.r2 AS DOUBLE)), 0) AS adc
  FROM scores s JOIN qn q USING (query_id)
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adc DESC NULLS LAST,
                                        neighbor_id) AS BIGINT) AS rk,
       round(adc, 6) AS adc_cos
FROM ranked
QUALIFY rk <= {TOP_K}
"""


@_register("similarity_pq_portable_topk", _PQP_ORACLE)
def q_similarity_pq_portable_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Product-quantization ADC top-k, fully oracle-backed: quantize
    every vector to integers (floor(x*{PQP_SCALE} + 0.5) per dim),
    assign each 8-dim subvector its nearest deterministic integer
    centroid (exact BIGINT L2, ties to the lowest code), then search
    with the standard ADC decomposition — per-query (m, code) lookup
    table of partial dots and centroid norms, one aggregation per
    (query, neighbor), cosine against the reconstruction — and rank.
    Because every pre-division quantity is an exact integer, the sums
    are order-independent and the final doubles are bit-identical on
    both engines: the hash gate certifies the MECHANISM (subspace
    algebra, argmin tie-breaks, LUT search, ranking) that the
    Lloyd-trained production path (similarity_topk_pq) can only
    recall-test.

    Scale shape: identical to the production path — the corpus-sized
    search side carries (id, m, code) triples only; the LUT
    (queries × {PQ_M} × {PQ_K} rows) and query norms are broadcast;
    one (query, neighbor)-keyed aggregation; no float arrays move
    after the encode scan."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))

    # THE quantizer — one definition (a single per-row transform) that
    # every leg (code assignment, LUT, query norms) projects once as a
    # 64-long array and indexes, so the legs can never diverge on scale
    # or rounding. Round-14 optimization (guide §1.2 per-task work):
    # the previous per-element form element_at(transform(embedding), i)
    # re-evaluated the interpreted 64-element cast transform for EVERY
    # element — 64 × 64 lambda evaluations per row in the encode
    # projection (plans/r14/similarity_pq_portable_topk_before.txt
    # operator 5); quantizing once per row is the same floor/cast per
    # element, evaluated 64× instead of 4096×.
    qarr = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * PQP_SCALE + 0.5).cast("long"),
    )

    def quant(idx):
        # index into the per-row quantized array (projected as ``qv``)
        return F.element_at(F.col("qv"), idx.cast("int"))

    qi = lambda m, i: quant(m * PQ_SUBDIM + i)  # noqa: E731 — tight closure

    ms = F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m")
    ks = F.explode(F.array(*[F.lit(k) for k in range(PQ_K)])).alias("code")

    def centroid(m, code, i):
        # Column form: same _pqp_centroid_expr as the Python twin
        lin = (m * PQ_K + code) * PQ_SUBDIM + i - 1
        return _pqp_centroid_expr(lin.cast("long"))

    def subfold(val_fn):
        # exact BIGINT sum over the subspace's {PQ_SUBDIM} dims
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(PQ_SUBDIM)), val_fn
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

    # Encode stage, UNROLLED under the codegen budget: the codebook is
    # pure Python ints (_pqp_centroid — the same twin the replay test
    # uses), constant-folded into ONE nested literal; per (vector,
    # subspace) row the 16 candidate distances are flat sums of
    # (element_at - element_at)² terms with no higher-order lambda
    # anywhere, split across narrow projections so each generated
    # method stays under janino's 64 KB limit. Measured at sf0.1
    # against three slower forms: the 16x (vec, m, code) explode +
    # min-struct shuffle (17.8 s), the nested F.aggregate argmin fold
    # (~15 s — lambdas evaluate interpreted, outside codegen), and a
    # single fully-unrolled projection (~29 s — blows the 64 KB method
    # limit and falls back to interpreted wholesale). Ties go to the
    # LOWEST code: array_position returns the FIRST index of the min.
    # all 1024 codebook values as one constant-folded literal,
    # indexed [m+1][k+1][i] (element_at is 1-based). Round 14: the
    # constant trees are built as ONE SQL string parsed JVM-side
    # (F.expr) — the Column-algebra form issued a py4j round trip per
    # literal/array/arithmetic node, and constructing this plan was
    # measured at 9-11 s per call (cent_lit 3.9 s + darr 3.0 s alone),
    # dwarfing the 2.4 s execution. Identical expressions after parsing
    # ({v}L literals are LongType, as the per-leaf casts were).
    cent_lit = F.expr(
        "array({})".format(
            ",".join(
                "array({})".format(
                    ",".join(
                        "array({})".format(
                            ",".join(
                                f"{_pqp_centroid(mm, kk, i)}L"
                                for i in range(1, PQ_SUBDIM + 1)
                            )
                        )
                        for kk in range(PQ_K)
                    )
                )
                for mm in range(PQ_M)
            )
        )
    )

    def dist_expr(k: int) -> str:
        def t(i: int) -> str:
            return (
                f"(element_at(sub, {i}) - "
                f"element_at(element_at(cb, {k + 1}), {i}))"
            )

        return "({})".format(
            " + ".join(f"{t(i)} * {t(i)}" for i in range(1, PQ_SUBDIM + 1))
        )

    codes = (
        e.select("vec_id", qarr.alias("q"))
        .select(
            "vec_id",
            "q",
            F.explode(
                F.array(*[F.lit(mm) for mm in range(PQ_M)])
            ).alias("m"),
        )
        .select(
            "vec_id",
            "m",
            F.slice(
                F.col("q"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM
            ).alias("sub"),
            F.element_at(cent_lit, F.col("m") + 1).alias("cb"),
        )
        .select(
            "vec_id",
            "m",
            F.expr(
                "array({})".format(
                    ",".join(dist_expr(k) for k in range(PQ_K))
                )
            ).alias("darr"),
        )
        .select(
            "vec_id",
            "m",
            (
                F.array_position(F.col("darr"), F.array_min(F.col("darr")))
                - 1
            )
            .cast("int")
            .alias("code"),
        )
    )
    # STAGED on purpose: without a materialization boundary the encode
    # projections FUSE into the broadcast-join stage, and the fused
    # method re-blows janino's 64 KB limit — the whole search stage
    # then falls back to interpreted eval (measured: 15-30 s for a
    # 2000-vector corpus; with the boundary the query runs ~1 s). The
    # staged frame is (id, m, code) triples — the 4-byte/vector
    # compressed index itself, exactly what a production ADC search
    # materializes anyway.
    codes = stage(codes)

    queries = e.where(F.col("vec_id") < N_QUERIES)
    m, code = F.col("m"), F.col("code")
    # ‖c‖² per (m, code) is data-independent — a Python-computed
    # literal lookup, not a runtime fold
    c2_lit = F.expr(
        "array({})".format(
            ",".join(
                "array({})".format(
                    ",".join(
                        "{}L".format(
                            sum(
                                _pqp_centroid(mm, kk, i) ** 2
                                for i in range(1, PQ_SUBDIM + 1)
                            )
                        )
                        for kk in range(PQ_K)
                    )
                )
                for mm in range(PQ_M)
            )
        )
    )
    lut = (
        queries.select(
            F.col("vec_id").alias("query_id"), qarr.alias("qv"), ms
        )
        .select("query_id", "qv", "m", ks)
        .select(
            "query_id",
            "m",
            "code",
            subfold(lambda i: qi(m, i) * centroid(m, code, i)).alias("pdot"),
            F.element_at(F.element_at(c2_lit, m + 1), code + 1).alias("c2"),
        )
    )
    qn = queries.select(
        F.col("vec_id").alias("query_id"), qarr.alias("qv")
    ).select(
        "query_id",
        F.aggregate(
            F.transform(F.col("qv"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("qn2"),
    )
    scores = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdot").alias("sdot"), F.sum("c2").alias("r2"))
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(
                F.col("sdot").cast("double"),
                F.sqrt(F.col("qn2").cast("double"))
                * F.sqrt(F.col("r2").cast("double")),
            ).alias("adc"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc_nulls_last(), "neighbor_id"
    )
    return (
        scores.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= TOP_K)
        .select(
            "query_id", "neighbor_id", "rk", F.round("adc", 6).alias("adc_cos")
        )
    )


# ---------------------------------------------------------------------------
# similarity_ivf_portable_topk — ORACLE-BACKED inverted-file search
#
# The production IVF path above trains its coarse quantizer with Lloyd
# iterations (float means, engine tie-breaks — rows-only at the driver
# gate; recall floors pinned in pytest). This twin is the portable-PQ
# recipe applied to the IVF MECHANISM: quantize vectors to integers
# (the PQP convention), take the K lowest-id quantized vectors as the
# coarse centroids (the production seeding WITHOUT Lloyd — fully
# deterministic), and run the whole inverted-file pipeline — nearest-
# centroid assignment, nprobe list selection, within-list exact
# re-rank — in exact BIGINT squared-L2 arithmetic, so every
# assignment, probe choice and ranking is hash-certifiable on both
# engines. The per-row `in_exact_topk` flag certifies the PRUNING
# EFFECT itself inside the value hash: each reported neighbor is
# joined against the deterministic exact top-k, so the hash pins
# exactly which matches nprobe-of-K pruning keeps and which it costs —
# the recall/cost trade an IVF deployment tunes. The production path
# keeps Lloyd centroids for real quality.
# ---------------------------------------------------------------------------

IVFP_SCALE = PQP_SCALE  # one quantization convention across the twins

_IVFP_DOT = (
    "CAST(list_inner_product(CAST({a} AS DOUBLE[]),"
    " CAST({b} AS DOUBLE[])) AS BIGINT)"
)
# exact despite the DOUBLE cast: per-dim products are < 2^26 and the
# 64-dim sums < 2^36 — far inside the 2^53 integer-exact double range

_IVFP_ORACLE = f"""
WITH nb AS (
  SELECT vec_id,
         codes,
         {_IVFP_DOT.format(a="codes", b="codes")} AS nrm
  FROM (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(floor(x * {IVFP_SCALE} + 0.5)
                                    AS BIGINT)) AS codes
    FROM embeddings
  )
),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cluster_id,
         codes AS c_codes, nrm AS c_nrm
  FROM nb ORDER BY vec_id LIMIT {IVF_CLUSTERS}
),
asg AS (
  SELECT n.vec_id, n.codes, n.nrm, c.cluster_id,
         n.nrm + c.c_nrm
           - 2 * {_IVFP_DOT.format(a="n.codes", b="c.c_codes")} AS d2
  FROM nb n CROSS JOIN cent c
),
inv AS (
  SELECT vec_id, codes, nrm, cluster_id FROM asg
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2, cluster_id) = 1
),
probes AS (
  SELECT vec_id AS query_id, codes AS q_codes, nrm AS q_nrm, cluster_id
  FROM asg WHERE vec_id < {N_QUERIES}
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2, cluster_id) <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, i.vec_id AS neighbor_id,
         p.q_nrm + i.nrm
           - 2 * {_IVFP_DOT.format(a="p.q_codes", b="i.codes")} AS dist2
  FROM probes p JOIN inv i USING (cluster_id)
  WHERE i.vec_id != p.query_id
),
itopk AS (
  SELECT query_id, neighbor_id, dist2,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist2, neighbor_id)
              AS BIGINT) AS rk
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY dist2, neighbor_id) <= {TOP_K}
),
ex AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
  FROM nb q JOIN nb n ON n.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY q.nrm + n.nrm
               - 2 * {_IVFP_DOT.format(a="q.codes", b="n.codes")},
             n.vec_id) <= {TOP_K}
)
SELECT t.query_id, t.neighbor_id, t.rk, t.dist2,
       CAST(CASE WHEN e.neighbor_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS in_exact_topk
FROM itopk t
LEFT JOIN ex e ON e.query_id = t.query_id
              AND e.neighbor_id = t.neighbor_id
"""


def _ivfp_nrm(col: str = "codes") -> Column:
    return F.aggregate(
        col, F.lit(0).cast("long"), lambda a, x: a + x * x
    )


def _ivfp_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@_register("similarity_ivf_portable_topk", _IVFP_ORACLE)
def q_similarity_ivf_portable_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Portable inverted-file top-k (module comment above): integer
    quantization → K lowest-id seed centroids → exact-BIGINT
    squared-L2 assignment (ties to the lowest cluster) → per-query
    nprobe closest lists → exact re-rank within the probed lists
    (ties to the lowest neighbor) → per-row in_exact_topk against the
    deterministic exact top-k, so the value hash certifies both the
    mechanism AND the pruning effect.

    Scale shape: the centroid table is {IVF_CLUSTERS} rows broadcast;
    assignment is one scan + a {IVF_CLUSTERS}-way bounded min; the
    search side joins the bounded query probes against the inverted
    lists on cluster_id (~nprobe/K of the corpus per query — the
    whole point of IVF); the exact leg is queries x corpus, bounded
    by the {N_QUERIES}-query panel (a deployment certifies pruning on
    a sampled panel exactly like this)."""
    e = spread_small_scan(catalog.load_table(spark, sf_dir, "embeddings"))
    codes = F.transform(
        _emb_double(),
        lambda x: F.floor(x * IVFP_SCALE + F.lit(0.5)).cast("long"),
    )
    base = stage(
        e.select("vec_id", codes.alias("codes")).withColumn(
            "nrm", _ivfp_nrm()
        )
    )
    cent = F.broadcast(
        base.orderBy("vec_id")
        .limit(IVF_CLUSTERS)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias(
                "cluster_id"
            ),
            F.col("codes").alias("c_codes"),
            F.col("nrm").alias("c_nrm"),
        )
    )
    d2 = (
        F.col("nrm")
        + F.col("c_nrm")
        - 2 * _ivfp_dot(F.col("codes"), F.col("c_codes"))
    )
    asg = base.crossJoin(cent).select(
        "vec_id", "codes", "nrm", "cluster_id", d2.alias("d2")
    )
    inv = stage(
        asg.groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "cluster_id")).alias("s"),
            F.first("codes").alias("codes"),
            F.first("nrm").alias("nrm"),
        )
        .select(
            "vec_id", F.col("s.cluster_id").alias("cluster_id"),
            "codes", "nrm",
        )
    )
    probe_w = Window.partitionBy("vec_id").orderBy("d2", "cluster_id")
    probes = (
        asg.where(F.col("vec_id") < N_QUERIES)
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= IVF_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("codes").alias("q_codes"),
            F.col("nrm").alias("q_nrm"),
            "cluster_id",
        )
    )
    dist2 = (
        F.col("q_nrm")
        + F.col("nrm")
        - 2 * _ivfp_dot(F.col("q_codes"), F.col("codes"))
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    itopk = (
        probes.join(inv, "cluster_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist2.alias("dist2"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= TOP_K)
    )
    q = base.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("codes").alias("q_codes"),
        F.col("nrm").alias("q_nrm"),
    )
    ex = (
        F.broadcast(q)
        .crossJoin(base)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist2.alias("dist2"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        itopk.join(ex, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "neighbor_id",
            "rk",
            "dist2",
            F.coalesce(F.col("hit"), F.lit(0))
            .cast("long")
            .alias("in_exact_topk"),
        )
    )
