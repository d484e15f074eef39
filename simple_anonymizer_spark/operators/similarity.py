"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline: a broadcast of the (small)
query set against a full scan of the corpus — one shuffle for the per-query
top-k. The scale path is LSH bucketing (random-hyperplane signs derived
from the deterministic hash kernel, so results are reproducible and
oracle-checkable) which prunes the candidate set before exact scoring —
the same structure as an IVF probe.

Dot products run through ``F.zip_with`` + ``F.aggregate`` with explicit
casts to double and sequential left-to-right accumulation, so DuckDB can
reproduce the exact IEEE sum.
"""

from __future__ import annotations

import functools as _functools
import math
import re as _re

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.textops import salted_hash


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_sq(a: Column) -> Column:
    return F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_norm_sq(a)) * F.sqrt(_norm_sq(b)))


def _per_query_topk(scored: DataFrame, k: int, *order: Column) -> DataFrame:
    """Per-query exact top-k as a two-phase window cascade. Phase 1
    ranks within (query_id, source physical partition) — an even-keyed
    shuffle — and keeps k rows per cell; phase 2 ranks the surviving
    ~|partitions| * k rows per query. The result is IDENTICAL to one
    window per query (the order is total, so the global top-k survives
    any partition-wise prune that keeps >= k per cell), but no reducer
    ever sees a corpus-sized partition — the naive per-query window
    funnels a query's ENTIRE scored corpus through one task, which at
    100 TB with a handful of queries serializes the whole scan into a
    few tasks. Adds ``rank`` (long, 1-based) and filters to the top k.
    """
    part = scored.withColumn("__srcpid", F.spark_partition_id())
    w1 = Window.partitionBy("query_id", "__srcpid").orderBy(*order)
    pruned = (
        part.withColumn("__prn", F.row_number().over(w1))
        .where(F.col("__prn") <= k)
        .drop("__prn", "__srcpid")
    )
    w2 = Window.partitionBy("query_id").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector (queries excluded from their own
    neighbor lists). Deterministic tie-break on neighbor id. Output:
    ``query_id, neighbor_id, rank``.

    The query side is explicitly broadcast: at 100 TB the corpus scan
    dominates and must never shuffle; per-query top-k runs as a window over
    the (tiny) query×k result.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
    )
    scored = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
        .crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__cos", cosine(F.col("__qvec"), F.col("__cvec")))
    )
    return _per_query_topk(
        scored, k, F.col("__cos").desc(), F.col("neighbor_id").asc()
    ).select("query_id", "neighbor_id", "rank")


_HYPERPLANE_MAX_DIM = 256


@_functools.lru_cache(maxsize=None)
def _plane_weight_lit(p: int, max_dim: int) -> Column:
    """The plane-``p`` weight vector as a parsed literal Column, memoized
    per process: the weights are pure constants, the Column wraps an
    unresolved literal expression (session-independent, immutable), and
    one 256-double array parse costs ~40 ms — re-paid per plane per
    fresh plan without the memo, which dominated construction for the
    4-band neardup scheme (32 parses ~1.3 s)."""
    from ..functions.pyimpl import stable_hash as _py_stable_hash

    w = [
        _py_stable_hash(f"{i}_pl{p}") / float(0x7FFFFFFF) - 0.5
        for i in range(max_dim)
    ]
    return F.expr("array(" + ",".join(_sql_double(x) for x in w) + ")")


def hyperplane_bucket(
    vec: Column,
    planes: int = 8,
    plane_offset: int = 0,
    max_dim: int = _HYPERPLANE_MAX_DIM,
) -> Column:
    """Sign-LSH bucket id: bit ``p`` is the sign of a pseudo-random
    projection whose weights derive from the deterministic hash kernel
    (``stable_hash(f"{i}_pl{plane_offset + p}") / INT_MAX - 0.5``).
    Reproducible across engines and runs — no RNG state. ``plane_offset``
    selects an independent plane family, so banded schemes can stack
    disjoint hyperplane sets.

    The weights depend only on ``(i, p)`` — they are CONSTANTS. The
    pre-r12 form re-derived each one per element per row inside the
    projection fold (an md5-kernel string hash: 2,048 hash evaluations
    per row for a 4-band x 8-plane x 64-dim scheme, all interpreted).
    They are now precomputed driver-side with the pure-Python hash
    mirror — integer hash -> exact double, the same ``/ INT_MAX - 0.5``
    IEEE ops in the same order, so every weight is bit-identical — and
    shipped as one JVM-parsed literal array per plane, sliced to the
    vector's length at runtime. ``max_dim`` bounds the precomputed
    table; vectors LONGER than it raise at execution time (r13: the
    r12 form silently zip-padded the missing weights with null, so
    every wide vector's projection nulled and landed in bucket 0 —
    collapsing banded LSH into one quadratic bucket with no error).
    Raise ``max_dim`` for wider embeddings; the plan stays O(planes)
    nodes either way."""
    proj_bits = []
    for p in range(planes):
        w_lit = _plane_weight_lit(plane_offset + p, max_dim)
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.slice(w_lit, 1, F.size(vec)),
                lambda x, wc: x.cast("double") * wc,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        proj_bits.append(
            F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0))
        )
    out = proj_bits[0]
    for b in proj_bits[1:]:
        out = out + b
    # Fail-loudly guard: one size check per row, added as an integer 0
    # term so the bucket value (and its type) is bit-identical for every
    # legal vector. size(NULL) is -1 (legacy) or NULL (ANSI); both fail
    # the > max_dim test, so NULL vectors keep their pre-existing bucket-0
    # behavior.
    guard = F.when(
        F.size(vec) > max_dim,
        F.raise_error(
            F.format_string(
                "hyperplane_bucket: vector dim %s exceeds max_dim "
                f"{max_dim} — pass a larger max_dim",
                F.size(vec),
            )
        ).cast("int"),
    ).otherwise(F.lit(0))
    return out + guard


def recommended_planes_per_band(n_rows: int, target_bucket_size: int = 1000) -> int:
    """Size hyperplane count to the corpus: ``2^r`` buckets per band should
    hold ~``target_bucket_size`` rows each, so the within-bucket pair join
    stays linear-ish. ``r = ceil(log2(n / target))``, min 4."""
    import math

    if n_rows <= target_bucket_size:
        return 4
    return max(4, math.ceil(math.log2(n_rows / target_bucket_size)))


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    bands: int = 4,
    planes_per_band: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Embedding-space near-duplicate pairs: exact cosine verification
    restricted to banded hyperplane-LSH candidates. Output:
    ``id_a, id_b, cosine`` with ``id_a < id_b``, deduplicated across bands.

    Banded multi-table OR (the MinHash structure): a pair is a candidate if
    it shares the full ``planes_per_band``-bit bucket in ANY of ``bands``
    independent plane families. ``2^planes_per_band`` buckets per band keep
    the within-bucket join near-linear (vs. a single ``2^4``-bucket table,
    whose O(N^2/16) self-join is a cartesian-class blowup at scale), while
    the OR over bands restores recall: at cosine 0.95 a pair agrees with a
    random hyperplane w.p. ~0.90, one 8-plane band w.p. ~0.43, and ≥1 of 4
    bands w.p. ~0.89 — tune ``planes_per_band`` with
    ``recommended_planes_per_band``.

    ``max_bucket_size`` drops degenerate buckets (identical-vector floods)
    exactly like the MinHash cap — bounded work, documented recall cost.
    At 100 TB ``(band, bucket)`` is the shuffle key; candidate generation
    never crosses buckets."""
    entries = corpus.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.array(*[
                hyperplane_bucket(
                    F.col(vec_col), planes_per_band, plane_offset=b * planes_per_band
                )
                for b in range(bands)
            ])
        ).alias("__band", "__bucket"),
    )
    buckets = (
        entries.groupBy("__band", "__bucket")
        .agg(F.array_sort(F.collect_set("__id")).alias("__ids"))
        .where(F.size("__ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("__ids") <= max_bucket_size)
    pair_array = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + F.lit(2), F.size(F.col("__ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    candidates = (
        buckets.select(F.explode(pair_array).alias("__p"))
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )
    vecs = corpus.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    return (
        candidates.join(
            vecs.withColumnRenamed("__vid", "id_a").withColumnRenamed("__v", "__va"),
            "id_a",
        )
        .join(
            vecs.withColumnRenamed("__vid", "id_b").withColumnRenamed("__v", "__vb"),
            "id_b",
        )
        .withColumn("cosine", cosine(F.col("__va"), F.col("__vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact scoring restricted to the query's LSH
    bucket. Recall depends on ``planes``; at scale the bucket column is the
    partition/bucketing key so a query touches one bucket's files only."""
    bucketed = corpus.withColumn("__bucket", hyperplane_bucket(F.col(vec_col), planes))
    q = bucketed.join(
        queries.select(id_col), on=id_col, how="left_semi"
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col("__bucket").alias("__qbucket"),
    )
    scored = (
        bucketed.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
            F.col("__bucket"),
        )
        .join(F.broadcast(q), F.col("__bucket") == F.col("__qbucket"))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__cos", cosine(F.col("__qvec"), F.col("__cvec")))
    )
    return _per_query_topk(
        scored, k, F.col("__cos").desc(), F.col("neighbor_id").asc()
    ).select("query_id", "neighbor_id", "rank")


def ann_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the LSH-bucketed top-k against the exact brute-force
    top-k, per query — the quality gauge an approximate index ships with
    ("measure, don't guess": tune ``planes`` against measured recall, not
    intuition). Output: ``query_id, n_hits, recall_at_k`` where ``n_hits``
    counts approximate neighbors that appear in the exact top-k; queries
    whose LSH bucket is empty report 0, not a dropped row. The
    denominator is ``least(k, |exact top-k|)`` — the ACHIEVABLE result
    size — so recall can reach 1.0 even when the corpus (or a filtered
    slice) has fewer than ``k`` eligible neighbors; a query with no
    eligible neighbors at all reports 0.0.

    Scale shape: the exact side is the measurement tool — run it over a
    SAMPLE of queries (both sides broadcast the query set; the corpus
    never shuffles). The hit join is k-bounded per query, trivially
    small. Integer hit counts divided by an integer denominator both
    engines derive identically — cross-engine exact because the neighbor
    SETS already are (the topk oracles gate bit-identical ranks)."""
    exact = brute_force_topk(corpus, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = lsh_topk(corpus, queries, k, planes, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    exact_n = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("__exact_n")
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    qids = queries.select(F.col(id_col).alias("query_id"))
    n = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    denom = F.greatest(
        F.least(F.lit(k).cast("long"),
                F.coalesce(F.col("__exact_n"), F.lit(0)).cast("long")),
        F.lit(1).cast("long"),
    )
    return (
        qids.join(hits, "query_id", "left")
        .join(exact_n, "query_id", "left")
        .select(
            "query_id",
            n.alias("n_hits"),
            (n.cast("double") / denom.cast("double")).alias("recall_at_k"),
        )
    )


FP_SCALE = 16_777_216  # 2^24 — fixed-point scale for order-free score sums


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks as a driver-side model object:
    ``codebooks[j][c]`` is the ``sub_dim``-float centroid ``c`` of
    subspace ``j``. Deterministic stand-in (same convention as
    ``ivf_centroids``): the ``k`` lowest-id vectors' subvector slices —
    k-means iteration zero — keeping the whole operator oracle-checkable;
    swap in trained sub-quantizers, the query plan is identical."""
    rows = (
        corpus.orderBy(F.col(id_col).asc()).limit(k).select(vec_col).collect()
    )
    return [
        [
            [float(x) for x in r[vec_col][j * sub_dim:(j + 1) * sub_dim]]
            for r in rows
        ]
        for j in range(m)
    ]


def _pq_subdot_sql(
    vec_sql: str, j: int, centroid: list[float], sub_dim: int
) -> str:
    """Dot product of subspace ``j`` of the column named ``vec_sql`` with
    a literal centroid, as SQL text.

    FLAT left-associated arithmetic, not a higher-order fold: Spark
    evaluates lambda HOFs interpreted (outside whole-stage codegen), and
    the original zip_with+aggregate form cost ~2 ms/row across the 64
    (subspace, centroid) pairs — measured 6x slower end-to-end than this
    codegen chain. The addition order (t1+t2)+t3... is exactly the fold's
    after the 0.0+t1 identity, so scores stay bit-identical to the
    DuckDB oracle's sequential list_sum.

    SQL TEXT rather than Column builders (r12): the PQ expressions
    multiply out to m x k x sub_dim terms — ~4,500 py4j round-trips per
    fresh plan built the Column way, which made pq_topk's CONSTRUCTION
    (8-20 s of driver time, swinging with JVM state) dwarf its 2-3 s
    execution. One JVM-side parse of the same text is ~50 ms, and SQL's
    left-associative ``+`` produces the identical analyzed tree."""
    return " + ".join(
        f"CAST(element_at({vec_sql}, {j * sub_dim + i + 1}) AS DOUBLE)"
        f" * {_sql_double(float(centroid[i]))}"
        for i in range(sub_dim)
    )


def _pq_subdot_col(
    vec: Column, j: int, centroid: list[float], sub_dim: int
) -> Column:
    """Column-builder twin of ``_pq_subdot_sql`` (identical tree)."""
    terms = [
        F.element_at(vec, j * sub_dim + i + 1).cast("double")
        * F.lit(float(centroid[i]))
        for i in range(sub_dim)
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def pq_encode(
    vec: Column | str, codebooks: list[list[list[float]]], sub_dim: int = 8
) -> Column:
    """PQ code array: per subspace, the argmax-dot centroid index (ties ->
    lowest code, mirroring the oracle's ``ORDER BY d DESC, cidx ASC``).
    Pure map-side expression — a 64-dim float32 vector (256 B) compresses
    to ``m`` small ints, the property that lets a 100 TB embedding corpus
    fit scan-able storage; assignment never shuffles.

    Pass ``vec`` as a COLUMN NAME to get the cheap JVM-parsed
    construction (see ``_pq_subdot_sql``); a Column object also works
    (wrapped in a one-row select alias) for expression inputs. Names
    that are not simple identifiers (spaces, dots, hyphens) route
    through the Column path, where ``F.col`` handles quoting."""
    if isinstance(vec, str) and not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", vec):
        vec = F.col(vec)
    if not isinstance(vec, str):
        # Column input: same tree via Column builders (py4j-priced; fine
        # for tests/one-off expression inputs — hot callers pass names).
        # Bind each subspace's dot array ONCE as a lambda leaf: the
        # argmax form references it twice (array_position + array_max),
        # and inlined that doubles the k x sub_dim multiply-adds per row
        # (the quantize_int8 lesson).
        codes_c = []
        for j in range(len(codebooks)):
            dots_c = F.array(*[
                _pq_subdot_col(vec, j, c, sub_dim) for c in codebooks[j]
            ])
            codes_c.append(
                F.transform(
                    F.array(dots_c),
                    lambda d: (F.array_position(d, F.array_max(d)) - 1)
                    .cast("int"),
                )[0]
            )
        return F.array(*codes_c)
    codes = []
    for j in range(len(codebooks)):
        dots = (
            "array("
            + ",".join(
                _pq_subdot_sql(vec, j, c, sub_dim) for c in codebooks[j]
            )
            + ")"
        )
        codes.append(
            f"transform(array({dots}), d ->"
            f" CAST(array_position(d, array_max(d)) - 1 AS INT))[0]"
        )
    return F.expr("array(" + ",".join(codes) + ")")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 3,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (the ADC scan): the query
    precomputes one subspace-dot table against every centroid, and each
    corpus vector scores as the sum of ``m`` table lookups selected by its
    code — never touching the original floats. Output: ``query_id,
    neighbor_id, rank, score_fp`` (score in 2^-24 fixed point: per-subspace
    dots are bit-identical doubles on both engines, floored to integers,
    and the final m-term sum is order-free — the kmeans cross-engine
    pattern).

    Scale shape: the corpus side carries only the code array (map-only
    encode, no shuffle); the query table is broadcast; per-query top-k is
    a window over the scored stream. Combine with IVF cells to avoid the
    full scan at 100 TB — this operator is the compression half.

    Cost knob: the scan is structurally scale-safe, but its constant is
    the codegen expression width — ``m`` (subspaces) x codebook width
    (centroids per subspace) table-lookup terms per row, plus the m-term
    query-table build under the broadcast. The sf0.1 sweep measures
    ~5.8 s for the registry configuration (embeddings fixture, dim 64,
    m = 8, 8 centroids per subspace), almost all of it this expression —
    shrink ``m`` or the codebooks before reaching for more executors
    (same recall-vs-cost dial as FAISS PQ)."""
    m = len(codebooks)
    enc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        pq_encode(vec_col, codebooks, sub_dim).alias("__codes"),
    )
    # FLOOR(double) is already BIGINT in SQL — same analyzed tree as the
    # old floor().cast("long") builder chain (the no-op cast folds away).
    qtab = F.expr("array(" + ",".join(
        "array(" + ",".join(
            f"FLOOR(({_pq_subdot_sql('__qv', j, c, sub_dim)})"
            f" * {float(FP_SCALE)!r}D)"
            for c in codebooks[j]
        ) + ")"
        for j in range(m)
    ) + ")")
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        ).withColumn("__qtab", qtab).drop("__qv")
    )

    # ADC lookup as a flat m-term integer sum (codegen) instead of an
    # interpreted fold over sequence(0, m-1): long addition is exactly
    # associative-in-order, and m is a compile-time constant.
    def term(j: int) -> Column:
        return F.element_at(
            F.element_at(F.col("__qtab"), j + 1),
            F.element_at(F.col("__codes"), j + 1) + F.lit(1),
        )

    score = term(0)
    for j in range(1, m):
        score = score + term(j)

    scored = (
        enc.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score_fp", score)
    )
    return _per_query_topk(
        scored, k, F.col("score_fp").desc(), F.col("neighbor_id").asc()
    ).select("query_id", "neighbor_id", "rank", "score_fp")


def ivf_centroids(
    corpus: DataFrame, n_cells: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Coarse-quantizer centroids as a driver-side model object (what a
    trained k-means produces; IVF treats centroids as broadcast state, not
    data). This deterministic stand-in — the ``n_cells`` lowest-id vectors,
    i.e. k-means iteration zero with a fixed seed — keeps the whole
    operator oracle-checkable; swap in ``pyspark.ml.clustering.KMeans``
    centers for trained cells, the query plan is identical."""
    rows = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(vec_col)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def _sql_double(x: float) -> str:
    """A SQL double literal that parses to exactly ``x`` (Python repr is
    the shortest round-tripping form; Spark's parser is correctly
    rounded). Non-finite values go through a string cast."""
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('%sInfinity' AS DOUBLE)" % ("-" if x < 0 else "")
    return repr(float(x)) + "D"


def _packed_centroids(centroids: list[list[float]]) -> Column:
    """The centroid table as ONE array<array<double>> literal node.
    Unrolling per-centroid literal arrays costs O(n_cells * dim)
    Catalyst expression nodes — ~3.4 s of PLANNING per thousand terms on
    every fresh plan (the random_projection lesson), which dominates
    fit/assign wall time once n_cells scales with the corpus. A single
    packed literal consumed by constant-size runtime folds keeps the
    plan O(1) regardless of n_cells.

    Built as a JVM-parsed ``expr`` string, not ``F.lit(list_of_lists)``:
    py4j converts nested Python lists one element-RPC at a time (~0.36 s
    of driver time for an 8x64 grid, re-paid on EVERY fresh plan — each
    k-means iteration, every assignment site), while one expr() parse of
    the same 512 literals is ~1 ms."""
    inner = ",".join(
        "array(" + ",".join(_sql_double(float(x)) for x in c) + ")"
        for c in centroids
    )
    return F.expr("array(" + inner + ")")


def _py_norm(vec: list[float]) -> float:
    """Driver-side ||v||: same left-associative x*x accumulation and the
    same correctly-rounded sqrt as the ``_norm_sq``/``F.sqrt`` column
    form, so the result is bit-identical to computing it executor-side
    (CPython floats are IEEE doubles; math.sqrt and JVM Math.sqrt are
    both correctly rounded)."""
    s = 0.0
    for x in vec:
        fx = float(x)
        s += fx * fx
    return math.sqrt(s)


def ivf_assign_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id (0-based; cosine ties -> lowest cell).
    Pure map-side expression over broadcast-literal centroids: corpus
    assignment never shuffles — the property that makes IVF the scale path
    (assignment is O(dim * n_cells) per row inside codegen, and the cell id
    becomes the partition/bucket key of the stored index). The centroid
    grid is one packed literal (see ``_packed_centroids``), so the plan
    stays constant-size as n_cells grows.

    Per-row work is one ||v|| fold plus n_cells dot folds. Three
    r12-measured pitfalls shape the form below (5.3x less interpreted
    work per row than the naive ``transform(packed, c -> cosine(v, c))``
    + ``array_position(cos, array_max(cos))``):

    * centroid norms are CONSTANTS — computed driver-side
      (``_py_norm``, bit-identical) and shipped as one packed literal,
      instead of a per-row per-cell ||c|| fold;
    * ``||v||`` is shared by every cell — bound ONCE as a lambda leaf
      through a one-element-array outer fold (the ``_murmur3_32_hex_col``
      pattern), instead of re-folded per cell inside the transform body;
    * the cosine array feeds BOTH array_position and array_max — bound
      as a lambda leaf too, where referencing it twice in one
      expression would duplicate the whole n_cells*dim subtree.
    """
    packed = _packed_centroids(centroids)
    norms = F.expr(
        "array(" + ",".join(_sql_double(_py_norm(c)) for c in centroids) + ")"
    )

    def argmax_cell(_z: Column, cos_arr: Column) -> Column:
        # array_position returns the FIRST match (1-based) -> ties
        # resolve to the lowest cell index, mirroring the oracle's
        # (cos DESC, cell ASC).
        return (F.array_position(cos_arr, F.array_max(cos_arr)) - 1).cast(
            "int"
        )

    def with_vnorm(_z: Column, vn: Column) -> Column:
        cos_arr = F.zip_with(
            packed, norms, lambda c, nc: _dot(vec, c) / (vn * nc)
        )
        return F.aggregate(
            F.array(cos_arr), F.lit(0).cast("int"), argmax_cell
        )

    return F.aggregate(
        F.array(F.sqrt(_norm_sq(vec))), F.lit(0).cast("int"), with_vnorm
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell; each query probes its ``nprobe`` closest cells and scores exactly
    inside them. Output: ``query_id, neighbor_id, rank``.

    ``centroids`` plugs in a trained coarse quantizer (e.g.
    ``kmeans.kmeans_fit``); the default is the deterministic iteration-zero
    stand-in from ``ivf_centroids``.

    Scale shape: cell assignment is a shuffle-free map (see
    ``ivf_assign_cell``); the only corpus movement is the cell-key join
    against the (broadcast) probe list, and with the index stored
    partitioned by cell a probe reads ``nprobe/n_cells`` of the data.
    Recall is tunable via ``nprobe`` exactly as in FAISS-style IVF-Flat."""
    if centroids is None:
        centroids = ivf_centroids(corpus, n_cells, id_col, vec_col)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        ivf_assign_cell(F.col(vec_col), centroids).alias("__cell"),
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    probe_cos = F.transform(
        _packed_centroids(centroids),
        lambda c: cosine(F.col("__qvec"), c),
    )
    probes = q.select(
        "query_id", "__qvec", F.posexplode(probe_cos).alias("__cell", "__pcos")
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("__pcos").desc(), F.col("__cell").asc()
    )
    probes = (
        probes.withColumn("__prn", F.row_number().over(pw))
        .where(F.col("__prn") <= nprobe)
        .select("query_id", "__qvec", "__cell")
    )

    scored = (
        assigned.join(F.broadcast(probes), "__cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__cos", cosine(F.col("__qvec"), F.col("__cvec")))
    )
    return _per_query_topk(
        scored, k, F.col("__cos").desc(), F.col("neighbor_id").asc()
    ).select("query_id", "neighbor_id", "rank")


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard first
    compression rung for an embedding corpus (4x over float32) before
    PQ. ``scale = max |x_i|`` (double); ``code_i = sign(x_i) *
    floor(|x_i| / scale * 127 + 0.5)`` giving codes in [-127, 127].

    Cross-engine determinism: float32 widens to double EXACTLY, and
    every step after that is divide / multiply / add / floor on
    identical doubles — IEEE-identical in Spark and DuckDB (no pow/ln,
    the weighted-sample lesson). Zero vectors quantize to all-zero
    codes with scale 0 (guarded, no division).

    Output: ``id, scale, codes (array<int>), max_abs_err`` where
    ``max_abs_err = max_i |x_i - codes_i * scale / 127|`` — the
    reconstruction bound computed in the same map-only pass, so
    quantization loss is auditable without a second scan. No shuffle
    anywhere; at 100 TB this fuses into the corpus read.
    """
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    # The scale (an O(d) array_max) must be bound as a lambda-variable
    # LEAF before the per-element lambdas reference it: Catalyst does not
    # hoist loop-invariant subtrees out of higher-order-function bodies,
    # so inlining it made codes/err O(d^2) per row (the CLAUDE.md
    # expression-count trap, third form).
    def quantized(s: Column) -> Column:
        def code(x: Column) -> Column:
            return (
                F.when(x < 0, F.lit(-1)).otherwise(F.lit(1))
                * F.floor(F.abs(x) / s * F.lit(127.0) + F.lit(0.5))
            ).cast("int")

        codes = F.when(
            s == 0,
            F.transform(dv, lambda x: F.lit(0)),
        ).otherwise(F.transform(dv, code))
        err = F.when(s == 0, F.lit(0.0)).otherwise(
            F.array_max(F.transform(
                dv,
                lambda x: F.abs(x - (code(x).cast("double") * s) / F.lit(127.0)),
            ))
        )
        return F.struct(
            s.alias("scale"),
            codes.alias("codes"),
            err.alias("max_abs_err"),
        )

    packed = F.transform(
        F.array(F.array_max(F.transform(dv, F.abs))), quantized
    )[0]
    return df.select(
        F.col(id_col),
        packed["scale"].alias("scale"),
        packed["codes"].alias("codes"),
        packed["max_abs_err"].alias("max_abs_err"),
    )


def rp_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic +-1 Johnson-Lindenstrauss sign matrix derived from
    the engine's own hash kernel (``stable_hash(f"rp_{j}_{i}") & 1``) —
    data-independent, so both engines embed the identical literal matrix
    and no training pass ever touches the corpus."""
    from ..functions import pyimpl

    return [
        [1 if pyimpl.stable_hash(f"rp_{j}_{i}") % 2 == 0 else -1
         for i in range(in_dim)]
        for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-matrix Johnson-Lindenstrauss random projection — the
    data-INDEPENDENT dimensionality reduction for an embedding corpus
    (Achlioptas 2003 database-friendly variant): ``y_j = sum_i s_ji x_i``
    with ``s in {-1, +1}`` drawn from the frozen hash kernel. Unlike
    PCA there is no covariance pass and no model state, which is what
    makes it the 100 TB default: one map-only projection fused into the
    corpus scan, reproducible on any cluster layout. Pairwise dot
    products are preserved in expectation within the JL epsilon for the
    chosen ``out_dim`` (property-tested).

    Cross-engine determinism (the kmeans 2^-24 lesson): float32 inputs
    quantize to exact int64 fixed point ``q_i = floor(x_i * 2^24)``
    first, so each output coordinate is an exact integer sum — emitted
    as ``array<bigint>`` of fixed-point units, which downstream cosine /
    Hamming consumers use directly (cosine is scale-invariant).

    Output: ``<id_col>, projected (array<bigint> of length out_dim)``.
    """
    signs = rp_signs(in_dim, out_dim)

    # Plan-size matters as much as execution here: unrolling the
    # in_dim x out_dim sign multiplies into literal term trees costs
    # ~3.4 s of CATALYST PLANNING per fresh plan (1024 leaf
    # expressions; execution itself is 0.11 s), so each output's signs
    # pack into 64-bit mask literals and the sum is one fold whose
    # lambda extracts the sign bit — a constant-size expression per
    # output (measured fresh-plan total 0.55 s at sf0.1, identical
    # values). Sign decode: bit i of word (i div 64), +1 when set.
    n_words = (in_dim + 63) // 64
    mask_words: list[list[int]] = []
    for j in range(out_dim):
        words = [0] * n_words
        for i, s in enumerate(signs[j]):
            if s > 0:
                words[i // 64] |= 1 << (i % 64)
        # two's-complement literal when bit 63 is set (the bloom lesson)
        mask_words.append([w - (1 << 64) if w >= 1 << 63 else w
                           for w in words])
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(16777216.0))
        .cast("long"),
    )
    step1 = df.select(F.col(id_col), q.alias("__q"))

    def out(j: int) -> Column:
        words = F.array(*[F.lit(w).cast("long") for w in mask_words[j]])

        def signed(v: Column, i: Column) -> Column:
            word = F.element_at(words, F.shiftright(i, 6) + F.lit(1))
            bit = F.call_function(
                "shiftright", word, i.bitwiseAND(F.lit(63)).cast("int")
            ).bitwiseAND(F.lit(1))
            return v * (F.lit(2) * bit - F.lit(1)).cast("long")

        return F.aggregate(
            F.transform(F.col("__q"), signed),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("long")

    return step1.select(
        F.col(id_col),
        F.array(*[out(j) for j in range(out_dim)]).alias("projected"),
    )


def ivf_cell_stats(
    corpus: DataFrame,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF index health report: occupancy of every coarse-quantizer
    cell, INCLUDING empty ones. ``load_factor = n_vecs * n_cells /
    n_total`` is the balance diagnostic — 1.0 everywhere is a perfectly
    balanced index; a cell at 10x means its probes scan 10x the
    expected candidates (the p99-latency killer at 100 TB), and empty
    cells are trained capacity wasted. Run it after every
    ``stream_embedding_ingest`` compaction cycle to decide when to
    re-train the quantizer.

    One map-only assignment pass (broadcast-literal centroids, no
    shuffle) + a groupBy bounded by ``n_cells`` rows, densified against
    ``spark.range(n_cells)``. Output: ``cell (int64), n_vecs (int64),
    load_factor (double)``.
    """
    if centroids is None:
        centroids = ivf_centroids(corpus, n_cells, id_col, vec_col)
    assigned = corpus.select(
        ivf_assign_cell(F.col(vec_col), centroids).alias("cell")
    )
    per_cell = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    total = corpus.agg(F.count(F.lit(1)).cast("long").alias("__total"))
    cells = corpus.sparkSession.range(n_cells).select(
        F.col("id").cast("int").alias("cell")
    )
    return (
        cells.join(per_cell, "cell", "left_outer")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.coalesce("__n", F.lit(0)).cast("long").alias("n_vecs"),
            ((F.coalesce("__n", F.lit(0)) * F.lit(n_cells)).cast("double")
             / F.col("__total").cast("double")).alias("load_factor"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k_pos: int = 5,
    k_neg: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "_neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each query, EXCLUDE its ``k_pos`` nearest neighbors (those are the
    positives / likely near-duplicates a contrastive loss must not see
    as negatives), then draw ``k_neg`` negatives from the remainder in
    salted-hash order — a uniform, seedless, reproducible draw (the
    frozen-hash kernel), so the training set is bit-identical across
    runs, engines, and retries.

    Scale shape: the corpus scan scores once against the broadcast
    query set; BOTH selections run through the ``_per_query_topk``
    two-phase cascade (positives by cosine, negatives by hash order) —
    no per-query window ever sees a corpus-sized partition, and the
    exclusion anti-join is per-query-bounded (``k_pos`` rows per
    query). Output: ``query_id, neighbor_id, rank (1..k_neg, hash
    order), cos (double)``.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
    )
    scored = (
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cvec"))
        .crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__cos", cosine(F.col("__qvec"), F.col("__cvec")))
    )
    pos = _per_query_topk(
        scored, k_pos, F.col("__cos").desc(), F.col("neighbor_id").asc()
    ).select("query_id", "neighbor_id")
    rest = scored.join(pos, ["query_id", "neighbor_id"], "left_anti")
    order_col = salted_hash(
        F.concat(F.col("query_id").cast("string"), F.lit("_"),
                 F.col("neighbor_id").cast("string")),
        salt,
    )
    neg = _per_query_topk(
        rest.withColumn("__ord", order_col), k_neg,
        F.col("__ord").asc(), F.col("neighbor_id").asc(),
    )
    return neg.select(
        "query_id", "neighbor_id", "rank", F.col("__cos").alias("cos")
    )
