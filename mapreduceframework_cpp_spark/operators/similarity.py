"""Similarity search over embedding columns (SURVEY.md §2.2-K).

Brute-force cosine top-k (the correctness baseline) and a random-
hyperplane (sign-LSH) bucketed variant (the scale path). Dot products run
JVM-side, no Python in the hot path: through higher-order array functions
(zip_with + aggregate) for arrays of unknown width, and as unrolled
arithmetic, built as SQL text and parsed once, when the caller declares a
fixed ``dim`` (see :func:`_dot_terms`).

Scale design: brute force is O(|Q|·|C|·d) — fine when the query set is
small and broadcastable, impossible corpus×corpus. The LSH variant
buckets both sides by sign-pattern so each query only scans its bucket
(and hamming-1 probes); recall depends on the data having angular
structure — on isotropic random vectors no sublinear method helps, which
is why the recall test uses clustered synthetic data.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from mapreduceframework_cpp_spark.operators.common import spread


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _ident(name: str) -> str:
    """Backtick-quoted SQL identifier for a column name."""
    return "`" + name.replace("`", "``") + "`"


def _double_sql(x: float) -> str:
    """SQL DOUBLE literal that parses back to the identical IEEE double:
    the shortest ``repr`` round-trips, ``D`` keeps it DOUBLE (not
    DECIMAL). Non-finite values have no literal syntax and go through a
    string cast, which constant-folds to the same literal."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def _elem_double(raw: str, i: int) -> str:
    """``CAST(raw[i] AS DOUBLE)`` — the element cast inline on the RAW
    column (usage rule on :func:`_dot_terms`)."""
    return f"CAST({_ident(raw)}[{i}] AS DOUBLE)"


def _dot_terms(terms) -> str:
    """Unrolled dot-product skeleton for a statically known element
    count, as SQL text: ``0.0D + t(0) + ... + t(dim-1)`` over the term
    strings (each ``a[i] * b[i]`` or ``(x - c) * (x - c)``); callers
    hand it to the JVM in ONE ``F.expr`` parse.

    Why it exists: ``aggregate``/``zip_with`` are CodegenFallback
    expressions — every evaluation is an interpreted per-element fold
    with lambda-variable binding, and the similarity operators evaluate
    the dot inside PAIR-join conditions (O(n·m) calls), where the
    interpreter cost dominates the whole query. The unrolled form is
    plain GetArrayItem/Multiply/Add nodes that whole-stage codegen
    compiles to straight-line JVM arithmetic (guide §1.2 "per-task
    work").

    Why SQL text: every Column-API node (``F.col``, ``[i]``, ``cast``,
    ``*``, ``+``, ``F.lit``) is a py4j gateway round trip (~0.3 ms
    each), ~8 per term. Built node by node, ``with_norm(dim=64)`` sent
    4314 gateway commands and took 0.7-1.4 s to build,
    ``cosine_topk(dim=64)`` 11854 commands and 1.7-4.7 s (its plan runs
    in 0.16 s), ``sign_lsh_buckets(emb, 64, 12)`` 46610 commands and
    5.9-16.8 s. As one parse of SQL text the same builds send 74, 532
    and 4 commands and take 0.07, 0.5 and 0.22 s (sf0.01 embeddings,
    500x64, 4-vCPU VM). The parser builds the identical unresolved tree
    JVM-side, so the optimized plan is unchanged (plans/r15), and a
    builder's round-trip count no longer depends on ``dim``
    (tests/test_llm_pipeline.py pins that count and the bit-identity
    below). Column names are
    backtick-quoted; literals are :func:`_double_sql`.

    Bit-identity: the Add chain associates left-to-right from the same
    0.0 seed, which IS the fold order of ``aggregate`` — identical
    IEEE-754 result, term for term. Null semantics match too (a null
    array or null element nulls the sum in both forms). The ONE
    divergence is arrays whose length differs from ``dim``: the HOF
    pads/extends, the unrolled form indexes — so callers opt in only
    under a fixed-width contract (the embeddings table is
    array<float>[64] at every SF — FIXTURES.md; verified no
    null/short/long rows).

    CRITICAL usage rule (measured, r14): the per-term elements must
    index ATTRIBUTES (materialized columns) or the raw scan column with
    an inline element cast — NEVER an array built by a HOF (e.g. the
    ``transform``-cast ``_v``) in the same projection chain.
    CollapseProject inlines such an array into every one of the
    ``2*dim`` term references, and because HOFs are CodegenFallback
    they are re-evaluated per reference — an A/B showed 3-8x
    REGRESSION before this rule, 2-7x improvement after."""
    return " + ".join(["0.0D", *terms])


def _dot_fixed(a: str, b: str, dim: int) -> str:
    """Unrolled :func:`_dot` over two already-double array columns
    ``a``, ``b`` (attributes across a join/exchange boundary — see the
    usage rule on :func:`_dot_terms`)."""
    a, b = _ident(a), _ident(b)
    return _dot_terms(f"{a}[{i}] * {b}[{i}]" for i in range(dim))


def _dot_at(a: str, b: str, dim: int | None):
    """Dot of the array columns named ``a`` and ``b``: the unrolled
    :func:`_dot_fixed` when the caller declares a fixed width, else the
    generic HOF fold."""
    if dim is None:
        return _dot(F.col(a), F.col(b))
    return F.expr(_dot_fixed(a, b, dim))


def _sq_norm_raw(raw: str, dim: int) -> str:
    """Unrolled ``dot(_v, _v)`` computed from the RAW (float) array
    column with inline element casts: ``cast(raw[i]) * cast(raw[i])``
    is bit-identical to ``transform(raw, cast)[i] * ...`` but keeps
    the HOF out of the expression tree (usage rule above)."""
    return _dot_terms(
        f"{_elem_double(raw, i)} * {_elem_double(raw, i)}" for i in range(dim)
    )


def _norm_fixed(raw: str, dim: int):
    """``sqrt`` of :func:`_sq_norm_raw` — the fixed-width L2 norm."""
    return F.expr(f"sqrt({_sq_norm_raw(raw, dim)})")


def _plane_dot(raw: str, plane) -> str:
    """Unrolled ``dot(cast(raw), plane)`` against a literal plane, as
    SQL text — the sign-LSH bit's dot product. Scalar literals against
    the RAW column: identical values to the zip_with fold over the
    transform-cast vector and an array literal
    (``transform(x, cast)[i] == cast(x[i])``)."""
    return _dot_terms(
        f"{_elem_double(raw, i)} * {_double_sql(p)}" for i, p in enumerate(plane)
    )


def _sq_dist(raw: str, center) -> str:
    """Unrolled squared distance from ``cast(raw)`` to a literal center,
    as SQL text: ``acc + (x-y)*(x-y)`` left to right, the fold order of
    :func:`_sq_dist_fold`."""
    return _dot_terms(
        f"({_elem_double(raw, i)} - {_double_sql(c)})"
        f" * ({_elem_double(raw, i)} - {_double_sql(c)})"
        for i, c in enumerate(center)
    )


def _array_sql(xs) -> str:
    """``array(x0D, x1D, ...)`` literal of doubles, as SQL text."""
    return "array(" + ", ".join(_double_sql(x) for x in xs) + ")"


def _sq_dist_fold(v, center):
    """Generic HOF squared distance from the double array column ``v``
    to the array column ``center``."""
    return F.aggregate(
        F.zip_with(v, center, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(
    emb: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Attach the double-cast vector and its L2 norm, EXCLUDING
    zero-norm rows: cosine similarity is undefined for the zero vector,
    and a 100 TB embedding table always contains some (failed encoder
    outputs, padding rows) — without the filter the ANSI cos division
    raises DIVIDE_BY_ZERO and one such row kills the whole job (r6
    degenerate-corpus sweep). Every similarity operator routes through
    here, so the exclusion is uniform on both query and candidate
    sides; the SQL oracles carry the same ``> 0`` norm guard."""
    v = _as_double(F.col(vec_col))
    norm = (
        F.sqrt(_dot(F.col("_v"), F.col("_v")))
        if dim is None
        # norm from the RAW column, not _v: indexing the transform-built
        # _v would inline the HOF into all 2*dim terms (see _dot_terms)
        else _norm_fixed(vec_col, dim)
    )
    return (
        emb.withColumn("_v", v)
        .withColumn("_norm", norm)
        .filter(F.col("_norm") > 0)
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (brute force).
    Output: query_id, cand_id, cos_sim (rounded 6dp), rank."""
    q = with_norm(queries, vec_col, dim).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    c = with_norm(spread(candidates, id_col), vec_col, dim).select(
        F.col(id_col).alias("cand_id"),
        F.col("_v").alias("_cv"),
        F.col("_norm").alias("_cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "_cos",
            _dot_at("_qv", "_cv", dim)
            / (F.col("_qn") * F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_cos", 6).alias("cos_sim"), "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def sign_lsh_buckets(
    emb: DataFrame, dim: int, n_planes: int = 12, seed: int = 7,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach a sign-LSH bucket id: bit j = sign(v · plane_j). Planes are
    deterministic (seeded) literals — the unrolled :func:`_plane_dot`
    per bit, OR-ed left to right, parsed JVM-side in one ``F.expr``."""
    bits = (
        f"CASE WHEN {_plane_dot(vec_col, plane)} > 0"
        f" THEN shiftleft(1, {j}) ELSE 0 END"
        for j, plane in enumerate(_hyperplanes(dim, n_planes, seed))
    )
    return emb.withColumn("bucket", F.expr(" | ".join(f"({b})" for b in bits)))


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    multiprobe: bool = True,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's bucket
    (plus hamming-1 probe buckets). Same output schema as cosine_topk."""
    qb = sign_lsh_buckets(queries, dim, n_planes, vec_col=vec_col)
    cb = sign_lsh_buckets(candidates, dim, n_planes, vec_col=vec_col)
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
        )
        qb = qb.withColumn("bucket", F.explode(probes))
    q = with_norm(qb, vec_col, dim).select(
        F.col(id_col).alias("query_id"), "bucket",
        F.col("_v").alias("_qv"), F.col("_norm").alias("_qn"),
    )
    c = with_norm(cb, vec_col, dim).select(
        F.col(id_col).alias("cand_id"), "bucket",
        F.col("_v").alias("_cv"), F.col("_norm").alias("_cn"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "_cos",
            _dot_at("_qv", "_cv", dim)
            / (F.col("_qn") * F.col("_cn")),
        )
        .select("query_id", "cand_id", "_cos")
        .distinct()  # multiprobe can reach the same pair via several buckets
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_cos", 6).alias("cos_sim"), "rank")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 10,
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means partitions the
    corpus into ``n_cells`` Voronoi cells; each query scores only the
    ``n_probe`` cells whose centroids are nearest, so scan cost drops by
    ~n_cells/n_probe versus brute force.

    The coarse quantizer trains with Spark ML k-means (distributed
    Lloyd's); the fitted centroids are bounded metadata (n_cells × dim
    floats) embedded as literals into the probe expression — the same
    "small static side stays JVM-side" pattern as the sign-LSH
    hyperplanes. Same output schema as :func:`cosine_topk`; recall
    depends on the corpus having cluster structure (tests assert
    score-correctness of what it returns, plus non-trivial recall)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL embeddings crash the ML fit (and can't be assigned a cell) —
    # exclude them like the zero-norm rows in with_norm (r6 null sweep)
    feats = candidates.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("_cvec"),
        array_to_vector(_as_double(F.col(vec_col))).alias("_fv"),
    )
    # coarse quantizers don't need Lloyd's to converge — cell quality
    # moves <0.5% between 10 and 20 iterations (measured trainingCost
    # 1851 vs 1848 at sf0.1) while the fit dominates query wall time,
    # so the iteration budget is capped; pass max_iter to override.
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter,
        featuresCol="_fv", predictionCol="cell",
    ).fit(feats)
    cand_cells = model.transform(feats).select(
        "cand_id", "cell", F.col("_cvec").alias(vec_col)
    )
    # clusterCenters() is model metadata (n_cells x dim), not a dataset
    # collect — identical in kind to the LSH hyperplane literals.
    centers = [[round(float(x), 6) for x in c] for c in model.clusterCenters()]

    withq = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col)
    ).withColumn("_v", _as_double(F.col(vec_col)))
    # squared distance to each literal center: unrolled over the RAW
    # column with inline casts when dim is fixed (_sq_dist, one parse
    # for all cells), else the generic HOF fold over the transform-cast _v
    if dim is None:
        cell_d2 = F.array(
            *[
                F.struct(
                    _sq_dist_fold(F.col("_v"), F.expr(_array_sql(c))).alias("d2"),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(centers)
            ]
        )
    else:
        cell_d2 = F.expr(
            "array("
            + ", ".join(
                f"struct({_sq_dist(vec_col, c)} AS d2, {i} AS cell)"
                for i, c in enumerate(centers)
            )
            + ")"
        )
    probed = (
        withq.withColumn(
            "cell",
            F.explode(
                F.slice(F.array_sort(cell_d2), 1, n_probe).getField("cell")
            ),
        )
        .select(
            "query_id",
            "cell",
            F.col("_v").alias("_qv"),
            (
                F.sqrt(_dot(F.col("_v"), F.col("_v")))
                if dim is None
                else _norm_fixed(vec_col, dim)
            ).alias("_qn"),
        )
        # zero-norm queries are excluded like everywhere else (cosine
        # undefined; see with_norm) — this side doesn't route through it
        .filter(F.col("_qn") > 0)
    )
    c = with_norm(spread(cand_cells, "cand_id"), vec_col, dim).select(
        "cand_id", "cell", F.col("_v").alias("_cv"), F.col("_norm").alias("_cn")
    )
    # a candidate lives in exactly one cell, so a (query, cand) pair can
    # appear at most once — no dedup needed after the probe join
    scored = (
        F.broadcast(probed)
        .join(c, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "_cos",
            _dot_at("_qv", "_cv", dim)
            / (F.col("_qn") * F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_cos", 6).alias("cos_sim"), "rank")
    )


def embedding_near_dups(
    emb: DataFrame, threshold: float = 0.4, vec_col: str = "embedding",
    id_col: str = "vec_id", dim: int | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (brute-force at test scale; the
    LSH bucketing above is the drop-in candidate generator at 100 TB)."""
    # the inequality-only join is a nested loop: make the SPREAD side
    # the streamed side (full task parallelism for the O(n²/2) cosine
    # work) and broadcast the build side explicitly — otherwise the
    # planner may stream the single byte-provisioned scan task and
    # serialize the whole pair scan (measured 19.5s -> 1.3s at sf0.1)
    a = with_norm(spread(emb, id_col), vec_col, dim).select(
        F.col(id_col).alias("vec_id_a"), F.col("_v").alias("_va"), F.col("_norm").alias("_na")
    )
    b = F.broadcast(
        with_norm(emb, vec_col, dim).select(
            F.col(id_col).alias("vec_id_b"),
            F.col("_v").alias("_vb"),
            F.col("_norm").alias("_nb"),
        )
    )
    # cosine threshold stated IN the join condition, AFTER the id
    # inequality: Catalyst pushes the post-join filter into the nested-
    # loop condition anyway, but lands it as (cos AND a<b) — which
    # evaluates the expensive dot for every ORDERED pair. Writing the
    # conjuncts explicitly keeps the cheap id comparison first, so the
    # dot runs for half the pair space; the survivors' projection
    # recomputes it (a per-survivor cost, negligible next to the pair
    # scan). Same rows, same values.
    cos = _dot_at("_va", "_vb", dim) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, (F.col("vec_id_a") < F.col("vec_id_b")) & (cos >= threshold))
        .select("vec_id_a", "vec_id_b", F.round(cos, 6).alias("cos_sim"))
    )


def label_blocked_knn(
    emb: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    salt: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Exact k-NN within coarse blocks (the IVF idea with a stored
    cell id): candidates are restricted to vectors sharing ``block_col``,
    so the pair space is sum-of-squared-cell-sizes instead of n² and the
    join is a plain co-partitioned equi join on the block key — each
    cell's pairs materialize on one executor, no broadcast of the full
    corpus anywhere.

    ``salt`` sub-splits each cell's QUERY side inside the join key
    (probe rows keep one salt, candidate rows replicate ``salt`` ways),
    multiplying join parallelism by ``salt`` without changing the pair
    set — the fix for few-large-cells layouts where `|cells| < cores`
    leaves most of the machine idle during the cosine stage. Candidate
    replication is bounded (×salt rows of the narrow candidate frame),
    the classic skew-salt trade. Output: vec_id, neighbor_id,
    cos_sim (6dp), rank."""
    a = with_norm(spread(emb, id_col), vec_col, dim).select(
        F.col(id_col).alias("vec_id"),
        F.col(block_col).alias("_blk"),
        (F.pmod(F.hash(F.col(id_col)), F.lit(salt))).alias("_salt"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    b = (
        with_norm(spread(emb, id_col), vec_col, dim)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(block_col).alias("_blk_b"),
            F.col("_v").alias("_cv"),
            F.col("_norm").alias("_cn"),
        )
        .withColumn(
            "_salt_b",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))),
        )
    )
    scored = a.join(
        b,
        (F.col("_blk") == F.col("_blk_b"))
        & (F.col("_salt") == F.col("_salt_b"))
        & (F.col("vec_id") != F.col("neighbor_id")),
    ).withColumn(
        "_cos",
        _dot_at("_qv", "_cv", dim)
        / (F.col("_qn") * F.col("_cn")),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id", "neighbor_id", F.round("_cos", 6).alias("cos_sim"), "rank"
        )
    )


def kmeans_cluster_report(
    emb: DataFrame,
    k: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus (Spark ML —
    the fit is a sequence of broadcast-centroid map passes + mean
    aggregations, exactly the scale shape hand-rolled IVF training
    would have), reduced to a per-cluster QA report: size, within-
    cluster sum of squared distances, and mean L2 norm. Clustering is
    the corpus-organization step (dedup blocking, mixture balancing,
    curriculum buckets); the report row count is k, so nothing bigger
    than the centroids ever leaves the executors."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL embeddings crash the ML fit — excluded (r6 null sweep)
    feats = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("_v"),
    ).withColumn("_fv", array_to_vector(F.col("_v")))
    model = KMeans(
        k=k, seed=seed, featuresCol="_fv", predictionCol="cluster"
    ).fit(feats)
    centers = model.clusterCenters()
    assigned = model.transform(feats).select("vec_id", "_v", "cluster")
    # squared distance to own centroid, JVM-side against literal centers
    center_arr = F.expr(
        "array(" + ", ".join(_array_sql(c) for c in centers) + ")"
    )
    d2 = _sq_dist_fold(
        F.col("_v"), F.element_at(center_arr, F.col("cluster") + 1)
    )
    norm = F.sqrt(_dot(F.col("_v"), F.col("_v")))
    return (
        assigned.withColumn("_d2", d2)
        .withColumn("_norm", norm)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.sum(F.round(F.col("_d2"), 6)), 6).alias("wssse"),
            F.round(F.sum(F.round(F.col("_norm"), 6)) / F.count("*"), 6).alias(
                "mean_norm"
            ),
        )
        .withColumn("cluster", F.col("cluster").cast("long"))
    )
