"""Embedding similarity search (north-star extension, BASELINE.json:
brute-force cosine top-k baseline + LSH/IVF-bucketed scale path).

The dot products fold per-element products into DECIMAL so the result
is accumulation-order independent and bit-matches the DuckDB oracle
(same trick as functions/exact.py). Element casts float→double are
exact, so both engines see identical products.

Scale posture: brute-force is O(|Q|·|C|·d) — correct baseline and fine
for |Q| small (probe queries). The scale path buckets candidates with
random-hyperplane LSH so each query only scores its bucket; at 100 TB
the bucketed join replaces the cross join entirely. MLlib's
BucketedRandomProjectionLSH (seeded) is also exposed for parity with
the stock API.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import DEC_FRAC

_SCALE = 1_000_000_000_000  # fixed-point 1e-12 quantization


def _sql_d(v: float) -> str:
    """SQL double literal with exact round-trip: repr() emits the
    shortest digits that parse back to the same IEEE-754 double, and the
    ``D`` suffix pins the SQL type to DOUBLE (bare decimals parse as
    DECIMAL)."""
    return f"{float(v)!r}D"


def _dot_frag(a: str, b: str) -> str:
    """Order-free fixed-point dot product of two array-column SQL
    fragments: per-element double products (exact) floored to 1e-12
    longs, folded as primitive int64 (associative — accumulation-order
    independent, so it bit-matches the DuckDB oracle), surfaced as
    double. Quantization error < 64e-12, far below float32 input noise.

    Emitted as SQL TEXT and parsed JVM-side in ONE py4j call (r19
    optimization, guide §7.3 — driver-side single-threaded work): the
    previous Column-by-Column construction paid ~1.5 ms of py4j
    round-trip per expression node, which made query CONSTRUCTION the
    dominant cost of the entire ANN family at bench scale (e.g.
    sim_pq_ann spent 9 s building literal codebook trees and lambdas
    for 1.7 s of execution). The parsed tree is identical node-for-node
    to the old ``F.aggregate(F.zip_with(…))`` build, so every score is
    bit-identical."""
    return (
        f"(CAST(aggregate(zip_with({a},{b},(x,y)->"
        "floor((CAST(x AS DOUBLE)*CAST(y AS DOUBLE))*1.0E12)),"
        "CAST(0 AS BIGINT),(acc,v)->acc+v) AS DOUBLE)/1.0E12)"
    )


def _norm_frag(a: str) -> str:
    """SQL-text form of :func:`_norm` (fixed-point self-dot → sqrt)."""
    return f"SQRT({_dot_frag(a, a)})"


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
) -> DataFrame:
    """Brute-force cosine top-k: probe vectors (small, broadcast) vs the
    full corpus. Ties broken by candidate id for determinism."""
    # Norms are per-vector: compute once per side, not once per pair —
    # cuts the per-pair array work to a single dot product. selectExpr
    # fragments (r19): same trees, one parse instead of per-node py4j.
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).selectExpr(
        "vec_id AS qid",
        "embedding AS qe",
        f"{_norm_frag('embedding')} AS qn",
    )
    c = embeddings.selectExpr(
        "vec_id AS vid",
        "embedding AS ce",
        "label AS c_label",
        f"{_norm_frag('embedding')} AS cn",
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("vid"))
        .selectExpr(
            "qid",
            "vid",
            "c_label",
            f"({_dot_frag('qe', 'ce')}/(qn*cn)) AS cos_sim",
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vid", "rank", "cos_sim", "c_label")
    )


def knn_label_agreement(embeddings: DataFrame, k: int = 1) -> DataFrame:
    """1-NN label agreement over a probe set: for the first 50 vectors,
    does the nearest neighbor share the label? (The classic embedding
    sanity metric, fully oracle-checkable.)"""
    probes = list(range(50))
    top1 = cosine_topk(embeddings, probes, k)
    labels = embeddings.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("q_label")
    )
    per_q = top1.filter(F.col("rank") == 1).join(F.broadcast(labels), "qid")
    return per_q.select(
        "qid",
        "vid",
        "cos_sim",
        "q_label",
        "c_label",
        (F.col("q_label") == F.col("c_label")).cast("int").alias("label_match"),
    )


def pairs_above_threshold(
    embeddings: DataFrame, max_id: int, threshold: float
) -> DataFrame:
    """Embedding-cosine near-dup pairs among vec_id < max_id: block-
    bounded all-pairs (id-ordered to halve work), cosine ≥ threshold.
    The exact-verification stage of an embedding dedup."""
    a = embeddings.filter(F.col("vec_id") < max_id).selectExpr(
        "vec_id AS id_a",
        "embedding AS ea",
        f"{_norm_frag('embedding')} AS na",
    )
    b = embeddings.filter(F.col("vec_id") < max_id).selectExpr(
        "vec_id AS id_b",
        "embedding AS eb",
        f"{_norm_frag('embedding')} AS nb",
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .selectExpr(
            "id_a",
            "id_b",
            f"({_dot_frag('ea', 'eb')}/(na*nb)) AS cos_sim",
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _hyperplane_sign_frag(e: str, plane_seed: str, dim: int) -> str:
    """Deterministic pseudo-random hyperplane side: weight for element i
    is ±1 from the parity of the first sha256 hex char of
    ``{plane_seed}_{i}`` — seedable, reproducible across engines and
    runs. The signs depend only on (seed, i), so they are PRECOMPUTED
    driver-side with hashlib (same sha256 → same hex → same parity as
    the previous in-plan sha2 form, bit-identical output) and enter the
    plan as a literal array: the hot path does dim multiply-adds per
    plane instead of dim crypto hashes per row. SQL-text fragment
    (r19): same tree as the old Column form, one parse."""
    import hashlib

    signs = [
        1.0
        if ord(hashlib.sha256(f"{plane_seed}_{i}".encode()).hexdigest()[0]) % 2 == 0
        else -1.0
        for i in range(dim)
    ]
    arr = "array(" + ",".join(_sql_d(s) for s in signs) + ")"
    return (
        f"CAST(CAST(aggregate(zip_with({e},{arr},(x,y)->"
        f"CAST((CAST(x AS DOUBLE)*y) AS {DEC_FRAC})),"
        f"CAST(0 AS {DEC_FRAC}),(acc,v)->CAST((acc+v) AS {DEC_FRAC})) AS DOUBLE)"
        ">=0 AS INT)"
    )


def lsh_bucketed_ann(
    embeddings: DataFrame,
    query_ids: list[int],
    n_planes: int = 8,
    dim: int = 64,
    k: int = 3,
) -> DataFrame:
    """Scale-path ANN: random-hyperplane LSH bucket key (n_planes sign
    bits), equi-join queries to their bucket, exact cosine within the
    bucket only. Recall < 1 by design (approximate) but each query
    scores ~|C|/2^n_planes candidates instead of |C|."""
    bucket = "concat_ws(''," + ",".join(
        f"CAST({_hyperplane_sign_frag('embedding', f'plane_{p}', dim)} AS STRING)"
        for p in range(n_planes)
    ) + ")"
    sig = embeddings.selectExpr(
        "vec_id", "embedding", "label", f"{bucket} AS bucket"
    )
    q = sig.filter(F.col("vec_id").isin(query_ids)).selectExpr(
        "vec_id AS qid",
        "embedding AS qe",
        f"{_norm_frag('embedding')} AS qn",
        "bucket",
    )
    cand = sig.selectExpr("*", f"{_norm_frag('embedding')} AS cn")
    scored = (
        F.broadcast(q)
        .join(cand, "bucket")
        .filter(F.col("qid") != F.col("vec_id"))
        .selectExpr(
            "qid",
            "vec_id AS vid",
            f"({_dot_frag('qe', 'embedding')}/(qn*cn)) AS cos_sim",
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vid", "rank", "cos_sim")
    )


def fixed_ivf_centroids(
    dim: int, n_clusters: int = 16, scale: float = 0.25
) -> list[tuple[int, list[float]]]:
    """Deterministic, data-independent IVF centroids: a cosine grid
    ``centroid[cell][t] = round(scale * cos(2 + 0.41*cell + 0.13*t),
    6)``, same structure as :func:`fit_ivf_quantizer` output.

    Same rationale as :func:`fixed_pq_codebooks`: ``ivf_ann``'s
    correctness is the assignment/probe/top-k machinery (argmax cell
    selection, Euclidean probe ranking, within-cell cosine) — centroid
    provenance is orthogonal to it. Formula centroids make the whole
    pipeline exactly reproducible in any engine (the driver's DuckDB
    oracle embeds the identical float literals), so the IVF path gets a
    hash check; the KMeans-trained path (:func:`fit_ivf_quantizer`)
    stays the ANN-quality default, recall-pinned in
    tests/test_ann_quality.py.

    ``scale`` matches the PQ grid default — centroid components at unit
    vector component scale, so scores spread well for unit-normalized
    embeddings."""
    import math

    return [
        (
            cell,
            [
                round(scale * math.cos(2.0 + 0.41 * cell + 0.13 * t), 6)
                for t in range(dim)
            ],
        )
        for cell in range(n_clusters)
    ]


def fit_ivf_quantizer(
    embeddings: DataFrame,
    n_clusters: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> list[tuple[int, list[float]]]:
    """Train the IVF coarse quantizer OFFLINE and return its centroids as
    a plain list of (cell, centroid) — an O(n_clusters·dim) model
    artifact, not data, so driver-side is the right home for it.

    At 100 TB you run this once on a sample (``sample_fraction``) and
    reuse the centroids across every query/batch; ``ivf_ann`` then does
    zero training. maxIter=10: a coarse quantizer only needs rough cells
    (recall guarded by tests/test_ann_quality.py)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    if sample_fraction is not None:
        vecs = vecs.sample(fraction=sample_fraction, seed=seed)
    km = KMeans(
        k=n_clusters, seed=seed, maxIter=max_iter,
        featuresCol="features", predictionCol="cell",
    )
    model = km.fit(vecs)
    return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]


def assign_ivf_cells(
    embeddings: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """Assign every vector to its nearest centroid (Euclidean, the k-means
    metric) with a pure column expression — no shuffle, no Python, no
    MLlib on the query path. argmin ||e−c||² = argmax(e·c − ||c||²/2);
    the per-centroid scores go into an array of structs and
    ``array_max`` picks the winner (struct comparison is field-order
    lexicographic, so score first, cell as tiebreak)."""
    # one transform over a literal centroid array (instead of n_clusters
    # separate aggregate expressions) keeps the codegen body small — the
    # per-row work is identical but planning/compile cost stays flat as
    # n_clusters grows. The whole assignment is ONE SQL-text parse
    # (r19): the old Column-by-Column build cost ~1.5 ms of py4j per
    # node across 16 centroids × 64 components of literals.
    cent_sql = "array(" + ",".join(
        "named_struct('cell',{cell},'centroid',array({cent}),'half_cc',{hcc})".format(
            cell=int(cell),
            cent=",".join(_sql_d(x) for x in c),
            hcc=_sql_d(sum(x * x for x in c) / 2.0),
        )
        for cell, c in centroids
    ) + ")"
    e = "CAST(embedding AS ARRAY<DOUBLE>)"
    scored = (
        f"transform({cent_sql},s->named_struct("
        f"'score',({_dot_frag(e, 's.centroid')}-s.half_cc),"
        f"'cell',s.cell))"
    )
    return embeddings.withColumn("cell", F.expr(f"array_max({scored})")["cell"])


def _probe_cells_frag(
    centroids: list[tuple[int, list[float]]], n_probe: int, qe: str
) -> str:
    """SQL fragment: the ``n_probe`` nearest cells (Euclidean — the
    k-means metric) for query vector fragment ``qe``, as an INT array,
    computed entirely in the per-row array domain over the literal
    centroid table.

    Replaces the old centroid-DataFrame crossJoin + row_number window
    (r19, guide §2.4): the centroids are driver-side literals, so cell
    ranking needs no createDataFrame job, no second broadcast and no
    window exchange. ``array_sort`` over ``(-score, cell)`` structs is
    lexicographic ascending = score desc, cell asc — exactly the old
    ``row_number().orderBy(score.desc(), cell) <= n_probe`` selection
    (double negation is sign-flip exact).

    ``half_cc`` here is the FIXED-POINT self-dot — the centroid folded
    through the same floor(x·x·1e12) quantization ``_dot_frag`` applies
    — halved, computed driver-side over the literal centroid (every
    intermediate stays < 2^53, so the Python arithmetic is the exact
    IEEE-754 sequence the SQL form would run). The DuckDB oracles rank
    probes with ``_dot_sql(q,c) − _norm2_sql(c)/2``; emitting the same
    quantized value keeps probe scores BIT-IDENTICAL across engines, so
    a near-tie between two cells can never flip the probe set on one
    side only (r20, ADVICE r19: the r19 SQL-text rework briefly emitted
    the plain Python float ``sum(x·x)/2`` here, a ~3e-11 divergence).
    The cell-ASSIGNMENT stage (assign_ivf_cells) deliberately keeps the
    plain-float literal — its oracle twin embeds that same literal."""
    cent_sql = "array(" + ",".join(
        "named_struct('cell',{cell},'centroid',array({cent}),'half_cc',{hcc})".format(
            cell=int(cell),
            cent=",".join(_sql_d(x) for x in c),
            hcc=_sql_d(
                sum(math.floor(x * x * 1.0e12) for x in c) / 1.0e12 / 2.0
            ),
        )
        for cell, c in centroids
    ) + ")"
    scored = (
        f"transform({cent_sql},s->named_struct("
        f"'negscore',-({_dot_frag(qe, 's.centroid')}-s.half_cc),"
        f"'cell',s.cell))"
    )
    return f"transform(slice(array_sort({scored}),1,{n_probe}),p->p.cell)"


def ivf_ann(
    embeddings: DataFrame,
    query_ids: list[int],
    n_clusters: int = 16,
    n_probe: int = 4,
    k: int = 3,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style ANN: a k-means coarse quantizer assigns every vector to
    a cell; each query scores only the ``n_probe`` cells whose centroids
    are nearest to it. The standard inverted-file layout — at 100 TB the
    cell assignment is a partition column and each probe is a
    partition-pruned scan. Rows-only check (k-means isn't SQL).

    Pass ``centroids`` (from ``fit_ivf_quantizer``, trained offline) to
    keep training off the query path; without it the quantizer is
    re-fit per call — a LOUD warning is emitted because the in-query
    retrain is the exact scale regression the offline quantizer split
    exists to prevent (it cost 11-12 s/call at sf0.1 before the split;
    at 100 TB it would dominate every query)."""
    if centroids is None:
        import warnings

        warnings.warn(
            "ivf_ann called without precomputed centroids: re-fitting "
            "the IVF quantizer IN-QUERY. This is a small-data "
            "convenience path only — at scale, fit once offline with "
            "fit_ivf_quantizer() and pass centroids=.",
            RuntimeWarning,
            stacklevel=2,
        )
        centroids = fit_ivf_quantizer(embeddings, n_clusters=n_clusters)
    assigned = assign_ivf_cells(
        embeddings.select("vec_id", "embedding"), centroids
    ).select("vec_id", "embedding", "cell")

    # rank cells per query by EUCLIDEAN distance — the same metric
    # KMeans assigns with, so the query's own cell always ranks first:
    # argmin ||q−c||² = argmax(q·c − ||c||²/2), NOT argmax(q·c).
    # The ranking runs in the array domain over the literal centroid
    # table (see _probe_cells_frag) — map-only, no centroid DataFrame,
    # no crossJoin, no window exchange.
    probes = (
        assigned.filter(F.col("vec_id").isin(query_ids))
        .selectExpr(
            "vec_id AS qid",
            "embedding AS qe",
            f"{_norm_frag('embedding')} AS qn",
        )
        .selectExpr(
            "qid",
            "qe",
            "qn",
            "explode("
            + _probe_cells_frag(centroids, n_probe, "CAST(qe AS ARRAY<DOUBLE>)")
            + ") AS cell",
        )
    )
    cand = assigned.selectExpr("*", f"{_norm_frag('embedding')} AS cn")
    scored = (
        F.broadcast(probes).join(cand, "cell")
        .filter(F.col("qid") != F.col("vec_id"))
        .selectExpr(
            "qid",
            "vec_id AS vid",
            f"({_dot_frag('qe', 'embedding')}/(qn*cn)) AS cos_sim",
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("qid", "vid", "rank", "cos_sim")
    )


def mllib_lsh_neighbors(
    embeddings: DataFrame, query_ids: list[int], k: int = 3
) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH variant (seeded) — the stock
    API path; rows-only check (hash family differs from the oracle)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=42
    )
    model = lsh.fit(vecs)
    q = vecs.filter(F.col("vec_id").isin(query_ids))
    joined = model.approxSimilarityJoin(q, vecs, 2.0, distCol="dist").filter(
        F.col("datasetA.vec_id") != F.col("datasetB.vec_id")
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist"), F.col("vid"))
    return (
        joined.select(
            F.col("datasetA.vec_id").alias("qid"),
            F.col("datasetB.vec_id").alias("vid"),
            F.col("dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth
    step before shipping embeddings to an ANN index (4x smaller than
    float32, dot products stay proportional within a per-vector scale).

    Rounding is written as floor(x*scale + 0.5) explicitly — identical
    IEEE ops in Spark and the DuckDB oracle, with no round-half-mode
    ambiguity. Output projects SCALAR summaries of the quantized vector
    (min/max/sum/L1) rather than the array itself: exact value checks
    without array-canonicalization churn in the compare."""
    e = F.col("embedding")
    absmax = F.array_max(F.transform(e, lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax == 0.0, F.lit(1.0)).otherwise(F.lit(127.0) / absmax)
    q = F.transform(
        e, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("int")
    )
    q_sum = F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x)
    q_l1 = F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x))
    return embeddings.select(
        "vec_id",
        scale.alias("scale"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        q_sum.alias("q_sum"),
        q_l1.alias("q_l1"),
    )


# --- product quantization (round-5 extension) ------------------------------
#
# The memory-side scale path for similarity search: IVF prunes WHICH
# vectors a query scores; PQ shrinks WHAT each scored vector costs —
# m uint8 codes (m bytes) instead of dim floats. Together they are the
# standard IVF-PQ layout for billion-vector corpora. Codebooks, like the
# IVF centroids, are an O(m·k·dim) model artifact trained OFFLINE
# (driver-side list), so encoding and search are pure column
# expressions: no shuffle, no Python, no MLlib on the query path.


def fixed_pq_codebooks(
    dim: int, m: int = 4, k: int = 16, scale: float = 0.25
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic, data-independent PQ codebooks: a cosine grid
    ``centroid[j][c][t] = round(scale * cos(1 + 0.37c + 0.11t + 0.53j),
    6)``, same structure as :func:`fit_pq_codebooks` output.

    ``encode_pq``'s correctness is the argmin mapping (subspace slicing,
    the half-||c||^2 trick, the array_max selection) — codebook
    provenance is orthogonal to it. A formula codebook makes the encode
    step exactly reproducible in any engine (the driver's DuckDB oracle
    embeds the identical float literals), whereas KMeans-trained books
    depend on MLlib's iteration schedule. KMeans books
    (:func:`fit_pq_codebooks`) remain the ANN-path default; recall for
    that path is pinned in tests/test_ann_quality.py.

    ``scale`` defaults to 0.25 — about 2x the RMS component (1/sqrt(64)
    = 0.125) of a unit vector in 64 dims — so centroid magnitudes sit at
    component scale and scores spread well for unit-normalized
    embeddings."""
    import math

    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    d_sub = dim // m
    return [
        [
            (
                c,
                [
                    round(scale * math.cos(1.0 + 0.37 * c + 0.11 * t + 0.53 * j), 6)
                    for t in range(d_sub)
                ],
            )
            for c in range(k)
        ]
        for j in range(m)
    ]


def fit_pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Train one k-means codebook per subspace (dim/m consecutive
    components each) offline; returns ``m`` lists of (code, centroid).
    Run once per corpus — on a sample at scale — and reuse, exactly like
    fit_ivf_quantizer."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(embeddings.select("embedding").first()[0])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    d_sub = dim // m
    base = embeddings.select(F.col("embedding").cast("array<double>").alias("e"))
    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=seed)
    books: list[list[tuple[int, list[float]]]] = []
    for j in range(m):
        sub = base.select(
            array_to_vector(F.slice("e", j * d_sub + 1, d_sub)).alias("features")
        )
        km = KMeans(
            k=k, seed=seed + j, maxIter=max_iter,
            featuresCol="features", predictionCol="code",
        )
        model = km.fit(sub)
        books.append(
            [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
        )
    return books


def encode_pq(
    embeddings: DataFrame, codebooks: list[list[tuple[int, list[float]]]]
) -> DataFrame:
    """Encode every vector as ``m`` codebook indices — the compressed
    representation a billion-vector index stores. Same shuffle-free
    argmin-by-array_max expression as assign_ivf_cells, once per
    subspace; output is (vec_id, codes array<int>) plus a passthrough of
    the original columns."""
    e = "CAST(embedding AS ARRAY<DOUBLE>)"
    d_sub = len(codebooks[0][0][1])
    codes = []
    for j, book in enumerate(codebooks):
        # whole per-subspace argmax as ONE SQL-text parse (r19): the
        # old Column-by-Column build paid ~1.5 ms of py4j per literal
        # node; the parsed tree is identical, so codes are bit-identical
        cent_sql = "array(" + ",".join(
            "named_struct('half_cc_neg',{hneg},'code',{code},"
            "'centroid',array({cent}))".format(
                hneg=_sql_d(-sum(x * x for x in c) / 2.0),
                code=int(code),
                cent=",".join(_sql_d(x) for x in c),
            )
            for code, c in book
        ) + ")"
        sub = f"slice({e},{j * d_sub + 1},{d_sub})"
        scored = (
            f"transform({cent_sql},s->named_struct("
            f"'score',({_dot_frag(sub, 's.centroid')}+s.half_cc_neg),"
            f"'code',s.code))"
        )
        codes.append(F.expr(f"array_max({scored})")["code"])
    return embeddings.withColumn("codes", F.array(*codes))


def _pq_approx_dot(
    codebooks: list[list[tuple[int, list[float]]]],
) -> Column:
    """Asymmetric PQ dot product as a column expression over columns
    ``qe`` (exact query vector) and ``codes`` (corpus PQ codes):
    approx dot(q, x) = Σ_j dot(q_sub_j, centroid_j[code_j]). Each
    subspace is an O(k·d_sub) literal lookup constant."""
    d_sub = len(codebooks[0][0][1])
    terms = []
    for j, book in enumerate(codebooks):
        # literal centroid table for subspace j, indexed by code (+1 for
        # element_at's 1-based indexing); whole ADC sum is one SQL-text
        # parse (r19) — tree and result identical to the Column form
        cent_sql = "array(" + ",".join(
            "array(" + ",".join(_sql_d(x) for x in c) + ")"
            for _code, c in sorted(book)
        ) + ")"
        sub = f"slice(qe,{j * d_sub + 1},{d_sub})"
        terms.append(
            _dot_frag(sub, f"element_at({cent_sql},element_at(codes,{j + 1})+1)")
        )
    return F.expr("+".join(terms))


def pq_ann(
    embeddings: DataFrame,
    query_ids: list[int],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 3,
) -> DataFrame:
    """Asymmetric-distance ANN: queries stay exact, corpus vectors are
    their PQ codes; approx dot(q, x) = Σ_j dot(q_sub_j, centroid_j[code_j]).
    The corpus side carries m small ints per row — at scale the scan
    reads the code columns only, never the float vectors. Broadcast
    probes × encoded corpus (same shape as cosine_topk), per-query top-k
    via a partitioned window."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    enc = encode_pq(embeddings, codebooks).select(
        F.col("vec_id").alias("vid"),
        F.col("label").alias("c_label"),
        "codes",
    )
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).selectExpr(
        "vec_id AS qid",
        "CAST(embedding AS ARRAY<DOUBLE>) AS qe",
    )
    approx = _pq_approx_dot(codebooks)
    scored = (
        F.broadcast(q)
        .crossJoin(enc)
        .filter(F.col("qid") != F.col("vid"))
        .select("qid", "vid", "c_label", approx.alias("approx_dot"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("approx_dot").desc(), F.col("vid")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vid", "rank", "approx_dot", "c_label")
    )


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-k most-SIMILAR candidates with a DIFFERENT label. Random
    negatives (sampling.negative_samples) are easy; these are the
    near-miss pairs that actually move an embedding model.

    Same scale shape as cosine_topk: broadcast anchors x corpus, one
    per-anchor top-k window — the label filter runs before ranking so
    the window sees only true negatives. Deterministic (ties by vid),
    fully oracle-checkable.
    """
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).selectExpr(
        "vec_id AS qid",
        "embedding AS qe",
        f"{_norm_frag('embedding')} AS qn",
        "label AS q_label",
    )
    c = embeddings.selectExpr(
        "vec_id AS vid",
        "embedding AS ce",
        "label AS neg_label",
        f"{_norm_frag('embedding')} AS cn",
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(
            (F.col("qid") != F.col("vid"))
            & (F.col("q_label") != F.col("neg_label"))
        )
        .selectExpr(
            "qid",
            "q_label",
            "vid",
            "neg_label",
            f"({_dot_frag('qe', 'ce')}/(qn*cn)) AS cos_sim",
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "q_label", "vid", "neg_label", F.col("rank").cast("int").alias("rank"), "cos_sim")
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label mean embedding (class prototype) — the nearest-centroid
    classifier's model and the cheapest embedding-space summary.

    Per-dimension sums accumulate in DECIMAL (order-free), so the
    centroid doubles are bit-identical at any partitioning and in the
    DuckDB oracle. One explode + one (label, pos) aggregation — the
    rollup has |labels| x dim rows, tiny at any corpus size.
    """
    ex = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    agg = ex.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("double").cast(DEC_FRAC)).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    return agg.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("centroid")
    )


def prototype_confusion(
    embeddings: DataFrame, centroids: DataFrame | None = None
) -> DataFrame:
    """Nearest-centroid classification confusion counts: each vector is
    assigned the label of its most-cosine-similar class prototype, then
    (true_label, predicted_label) pairs are counted.

    The centroid table is |labels| rows → broadcast; the corpus is
    scanned once. Deterministic (prototype ties broken by label).
    """
    cent = centroids if centroids is not None else label_centroids(embeddings)
    # One-row array of (label, centroid, norm) prototypes — |labels| is
    # bounded, so the whole model broadcasts as a single array cell.
    # The per-vector argmax then runs IN THE ARRAY DOMAIN (r19, guide
    # §2.4): the old crossJoin × window shape exploded the corpus
    # |labels|-fold and then shuffled + sorted every row by vec_id just
    # to pick rank 1 — a corpus-sized exchange that vanishes here.
    # array_min over (-cos_sim, label) structs is lexicographic
    # ascending = cos desc, label asc — exactly the old
    # row_number(orderBy(cos.desc(), label)) == 1 pick (double negation
    # is sign-flip exact).
    carr = cent.selectExpr(
        "label",
        "centroid",
        f"{_norm_frag('centroid')} AS cn",
    ).agg(
        F.collect_list(F.struct("label", "centroid", "cn")).alias("_cents")
    )
    e = embeddings.selectExpr(
        "label AS true_label",
        "embedding",
        f"{_norm_frag('embedding')} AS en",
    )
    pick = (
        "array_min(transform(_cents,c->named_struct("
        f"'negcos',-({_dot_frag('embedding', 'c.centroid')}/(en*c.cn)),"
        "'predicted_label',c.label)))"
    )
    pred = e.crossJoin(F.broadcast(carr)).selectExpr(
        "true_label",
        f"{pick}.predicted_label AS predicted_label",
    )
    return (
        pred.groupBy("true_label", "predicted_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def cross_set_contamination(
    benchmark: DataFrame, train: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Embedding-level decontamination: train vectors whose cosine to
    ANY benchmark vector clears ``threshold`` — the semantic twin of the
    n-gram decontamination in text.py (which catches verbatim overlap;
    this catches paraphrases living in embedding space).

    The benchmark side is small by nature → broadcast; the training
    corpus is scanned once. Returns one row per contaminated train
    vector with its closest benchmark hit (deterministic argmax).
    """
    b = benchmark.selectExpr(
        "vec_id AS bench_id",
        "embedding AS be",
        f"{_norm_frag('embedding')} AS bn",
    )
    t = train.selectExpr(
        "vec_id AS train_id",
        "embedding AS te",
        f"{_norm_frag('embedding')} AS tn",
    )
    scored = (
        t.crossJoin(F.broadcast(b))
        .selectExpr(
            "train_id",
            "bench_id",
            f"({_dot_frag('te', 'be')}/(tn*bn)) AS cos_sim",
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    w = Window.partitionBy("train_id").orderBy(
        F.col("cos_sim").desc(), F.col("bench_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select("train_id", "bench_id", "cos_sim")
    )


def ivfpq_ann(
    embeddings: DataFrame,
    query_ids: list[int],
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    n_probe: int = 4,
    k: int = 3,
) -> DataFrame:
    """Composed IVF-PQ index — the standard billion-vector ANN layout:
    the IVF coarse quantizer PRUNES (each query touches only its
    ``n_probe`` nearest cells; at scale the cell is a partition column
    and each probe is a partition-pruned scan), and PQ codes COMPRESS
    what's left (m small ints per row instead of the float vector).

    Queries stay exact (asymmetric distance); both models are trained
    OFFLINE (fit_ivf_quantizer / fit_pq_codebooks) and enter the plan
    as broadcast literals — the query path does zero training and zero
    Python. Non-residual variant: PQ encodes raw vectors, not
    cell-relative residuals (one shared codebook set across cells).

    Rows-only checked; recall is pinned by tests/test_ann_quality.py.
    """
    assigned = assign_ivf_cells(
        embeddings.select("vec_id", "embedding", "label"), centroids
    )
    enc = encode_pq(assigned, codebooks).select(
        F.col("vec_id").alias("vid"),
        F.col("label").alias("c_label"),
        "cell",
        "codes",
    )
    # rank cells per query by Euclidean distance (the k-means metric):
    # argmin ||q-c||^2 = argmax(q.c - ||c||^2/2). Array-domain ranking
    # over the literal centroid table (_probe_cells_frag, r19): no
    # centroid DataFrame, no crossJoin, no window exchange.
    probes = embeddings.filter(F.col("vec_id").isin(query_ids)).selectExpr(
        "vec_id AS qid",
        "CAST(embedding AS ARRAY<DOUBLE>) AS qe",
    ).selectExpr(
        "qid",
        "qe",
        "explode(" + _probe_cells_frag(centroids, n_probe, "qe") + ") AS cell",
    )
    # the pruning join: probes hit only their cells' code lists
    cand = (
        F.broadcast(probes).join(enc, "cell")
        .filter(F.col("qid") != F.col("vid"))
        .select("qid", "vid", "c_label", "qe", "codes")
    )
    scored = cand.select(
        "qid", "vid", "c_label", _pq_approx_dot(codebooks).alias("approx_dot")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("approx_dot").desc(), F.col("vid")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vid", "rank", "approx_dot", "c_label")
    )


def embedding_drift_hist(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bins: int = 20,
) -> DataFrame:
    """Embedding-snapshot drift report: did re-embedding the corpus
    (new encoder checkpoint, changed preprocessing) move the vectors?

    Matched ids get the cosine between old and new vector, binned over
    [-1, 1] into ``n_bins`` buckets (``status='matched'``); ids present
    on one side only are counted as ``'added'`` / ``'removed'`` rows
    with bin -1; matched ids whose cosine is undefined (NULL or
    zero-norm vector on either side) are counted as ``'matched_null'``
    with bin -1, so the status rows partition the full id universe. An
    unchanged snapshot puts every matched count in the top bin — mass
    anywhere else is drift, localized by bin.

    Deterministic: the cosine uses the fixed-point dot (order-free
    int64 fold, see _dot) and fixed bin edges, so the whole report is
    hash-checkable. Shape: one full-outer equi-join on the id + ONE
    global aggregation to ≤ n_bins + 3 rows (r19, guide §2.4 — the
    previous four per-status branches each recomputed the full-outer
    join from scratch: 12 scans / 8 exchanges in the plan; every row's
    (status, bin) is decidable row-locally, so one groupBy covers all
    four, with a summary-sized zero-fill anti-join preserving the
    always-present added/removed/matched_null rows that an empty group
    would otherwise drop)."""
    # explicit presence markers (same pattern as reconcile.row_diff):
    # a matched id whose VECTOR is NULL must stay 'matched', not be
    # misread as added/removed off vector-column nullness
    o = old.select(
        F.col(id_col).alias("_id"),
        F.lit(1).alias("_in_o"),
        F.col(vec_col).alias("_vo"),
    )
    n = new.select(
        F.col(id_col).alias("_id"),
        F.lit(1).alias("_in_n"),
        F.col(vec_col).alias("_vn"),
    )
    j = o.join(n, "_id", "full_outer")
    # try_divide: a zero-norm vector must yield NULL (bucketed as
    # matched_null), not an ANSI DIVIDE_BY_ZERO error killing the whole
    # report. NULL vectors give a NULL cosine; NaN inputs fold to NULL
    # too (they would otherwise ride least() into the TOP bin and read
    # as "no drift"). Bin expression == sketches.binned_value_histograms
    # (clamped floor over fixed edges), so matched counts are identical.
    width = (1.0 - (-1.0)) / n_bins
    cosed = j.selectExpr(
        "_in_o",
        "_in_n",
        f"try_divide({_dot_frag('_vo', '_vn')},"
        f"{_norm_frag('_vo')}*{_norm_frag('_vn')}) AS _cos_raw",
    ).select(
        "_in_o",
        "_in_n",
        F.when(
            F.col("_cos_raw").isNotNull() & ~F.isnan("_cos_raw"),
            F.col("_cos_raw"),
        ).alias("_cos"),
    )
    status = (
        F.when(F.col("_in_o").isNull(), F.lit("added"))
        .when(F.col("_in_n").isNull(), F.lit("removed"))
        .when(F.col("_cos").isNull(), F.lit("matched_null"))
        .otherwise(F.lit("matched"))
    )
    bin_expr = F.when(
        status == "matched",
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(n_bins - 1),
                F.floor((F.col("_cos") - F.lit(-1.0)) / F.lit(width)),
            ),
        ),
    ).otherwise(F.lit(-1)).cast("bigint")
    grouped = (
        cosed.select(status.alias("status"), bin_expr.alias("bin"))
        .groupBy("status", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ).persist()  # ≤ n_bins + 3 rows; referenced by the output AND the
    # zero-fill anti-join — persist so the id join runs once
    # the three presence buckets are part of the report contract even
    # when empty (n=0 rows); re-add any the aggregation dropped
    always = j.sparkSession.range(1).selectExpr(
        "explode(array('matched_null','added','removed')) AS status",
        "CAST(-1 AS BIGINT) AS bin",
    )
    zeros = always.join(
        grouped.select("status"), "status", "left_anti"
    ).select("status", "bin", F.lit(0).cast("bigint").alias("n"))
    return grouped.unionByName(zeros)
