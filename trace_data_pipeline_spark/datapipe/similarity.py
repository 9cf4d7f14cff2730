"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with a broadcast query set — for Q
queries the cost is Q·N dot products, JVM-side via zip_with/aggregate
higher-order functions (no Python). Scale path (LSH bucketing) keeps
the same interface but meets candidates on hash buckets instead of the
full corpus.

All arithmetic is in float64 (explicit casts) so results are
reproducible against the DuckDB oracle; rankings order by the ROUNDED
cosine with an id tiebreak so ulp noise can't flip neighbor order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_f64(a: Column, b: Column, dim: int | None = None) -> Column:
    """Σ aᵢ·bᵢ with per-element double cast, accumulated left-to-right
    (same term order as the oracle's list_dot_product).

    With `dim` given, the sum is unrolled into a flat codegen-friendly
    expression — measurably faster than the interpreted higher-order
    aggregate() fold on hot paths like brute-force top-k."""
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + F.get(a, i).cast("double") * F.get(b, i).cast("double")
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_f64(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot_f64(a, a, dim))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors (self excluded): broadcast the query
    set against the corpus, one window per query for the top-k cut.
    Returns (query_id, neighbor_id, cos_sim, rank).

    Norms are computed once per ROW in the pre-join projections (they
    can't collapse across the join), so each of the Q·N pairs pays one
    dot product instead of three — same float values, 3× less work."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm_f64(F.col(vec_col), dim).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm_f64(F.col(vec_col), dim).alias("__cn"),
    )
    # r17 (verdict item 6, measured A/B): the Q·N pair dot uses the HOF
    # fold, NOT the dim-unrolled expression — the ~300-op unrolled tree
    # compiles into one oversized codegen method that the JVM refuses
    # to JIT (8 KB bytecode limit), so it runs INTERPRETED on the hot
    # path: sf0.1 warm min 2.70 vs 1.75 s, sf1 19.15 vs 4.99 s
    # (identical bits; an Arrow/numpy sequential-fold kernel measured
    # 1.62/4.77 — inside noise of the fold, not worth the Python
    # boundary). The per-ROW norms keep the unrolled form: one call per
    # row, never hot, and the small method JITs fine.
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(
                dot_f64(F.col("__qv"), F.col("__cv"), None)
                / (F.col("__qn") * F.col("__cn")),
                round_dp,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_norms(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """L2 norms — the cheap sanity surface for the vector plumbing."""
    return vectors.select(
        F.col(id_col),
        F.round(norm_f64(F.col(vec_col), dim), 6).alias("l2_norm"),
        F.size(F.col(vec_col)).alias("dim"),
    )


def random_hyperplane_buckets(
    vectors: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH scale path: sign-pattern bucket id from fixed hyperplanes.
    Near-duplicate cosine search then joins on bucket equality instead
    of cross-joining the corpus. Planes are deterministic constants
    (seeded offline) so the bucketing is reproducible."""
    sign_bits = []
    for p in planes:
        plane = F.array(*[F.lit(float(x)) for x in p])
        sign_bits.append(
            F.when(dot_f64(F.col(vec_col), plane) >= 0, F.lit("1")).otherwise(F.lit("0"))
        )
    return vectors.select(
        F.col(id_col), F.col(vec_col), F.concat(*sign_bits).alias("bucket")
    )


def lsh_cosine_pairs(
    vectors: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup detection at scale: bucket join (same sign
    pattern) → exact cosine verify. One shuffle on the bucket key."""
    b = random_hyperplane_buckets(vectors, planes, id_col, vec_col)
    # norms once per row before the self-join — each colliding pair
    # then pays a single dot product
    b = b.withColumn("__n", norm_f64(F.col(vec_col), dim))
    b1 = b.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"), "bucket",
    )
    b2 = b.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"), "bucket",
    )
    return (
        b1.join(b2, "bucket")
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cos_sim",
            F.round(
                dot_f64(F.col("__va"), F.col("__vb"), dim)
                / (F.col("__na") * F.col("__nb")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("a", "b", "cos_sim")
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """IVF coarse quantization: nearest centroid by cosine (rounded,
    centroid-id tiebreak — membership must not flip on ulp noise, it
    would cascade into different candidate sets). Centroids broadcast;
    one narrow pass over the corpus."""
    c = centroids.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__ce"),
        norm_f64(F.col(vec_col)).alias("__cen"),
    )
    v = vectors.withColumn("__vn", norm_f64(F.col(vec_col)))
    scored = v.crossJoin(F.broadcast(c)).withColumn(
        "__sim",
        F.round(
            dot_f64(F.col(vec_col), F.col("__ce"))
            / (F.col("__vn") * F.col("__cen")),
            round_dp,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__sim").desc(), F.col("__cid")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, vec_col, F.col("__cid").alias("cluster"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid; each query probes its n_probe nearest clusters and scores
    only those buckets. At scale this replaces the Q×N cross join with
    Q×(N/n_clusters·n_probe) — the candidate join is an equi-join on
    the cluster id, so it shuffles once and AQE handles bucket skew."""
    corpus_assigned = assign_clusters(corpus, centroids, id_col, vec_col)
    c = centroids.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__ce"),
        norm_f64(F.col(vec_col)).alias("__cen"),
    )
    q_probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            norm_f64(F.col(vec_col)).alias("__qn"),
        )
        .crossJoin(F.broadcast(c))
        .withColumn(
            "__sim",
            F.round(
                dot_f64(F.col("__qv"), F.col("__ce"))
                / (F.col("__qn") * F.col("__cen")),
                6,
            ),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("__cid")
    )
    probes = (
        q_probes.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "__qv", "__qn", F.col("__cid").alias("cluster"))
    )
    cand = probes.join(
        corpus_assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            norm_f64(F.col(vec_col)).alias("__cvn"),
            "cluster",
        ),
        "cluster",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.withColumn(
        "cos_sim",
        F.round(
            dot_f64(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cvn")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def quantize_int8(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization — the storage path for embedding
    columns at corpus scale (4x smaller than float32, 8x than float64):
    scale = max|e| / 127, q_i = clamp(floor(e_i/scale + 0.5), ±127).
    floor(x + 0.5) is used instead of round() because it is the same
    IEEE op in every engine (round's tie behavior is not), making the
    reconstruction-error column bit-comparable. Sequential fold for the
    error sum — associativity is not assumed."""
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(e, F.abs)) / F.lit(127.0)
    q = F.transform(
        e,
        lambda x: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.floor(x / scale + 0.5))
        ),
    )
    recon_err = F.sqrt(
        F.aggregate(
            F.zip_with(e, q, lambda a, b: (a - b * scale) * (a - b * scale)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    n_sat = F.size(F.filter(q, lambda x: F.abs(x) == 127.0))
    return vectors.select(
        F.col(id_col),
        scale.alias("scale"),
        F.round(recon_err, 6).alias("recon_err_l2"),
        n_sat.alias("n_saturated"),
    )


def pq_encode(
    corpus: DataFrame,
    codebook_source: DataFrame,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Product-quantization encode (Jégou/Douze/Schmid, "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    M contiguous subvectors; per subspace, snap to the nearest codebook
    centroid (L2², deterministic id tiebreak). Returns one row per
    vector with code_0..code_{M-1} and the total reconstruction error.

    Scale shape: the codebook is M·K rows and BROADCASTS; the corpus
    explodes to N·M subvector rows and meets the codebook on a
    broadcast hash equi-join keyed by subspace index — never a cross
    join of full vectors. The encoded form is M small ints per vector
    (vs `dim` floats) — the memory shape that makes billion-scale ANN
    tables fit.

    Float discipline: distances accumulate left-to-right in float64
    (identical operand order to the oracle's list_sum), and the M
    per-subspace errors are added in fixed subspace order — never a
    shuffle-order-dependent SUM."""
    if dim % n_subspaces != 0:
        raise ValueError(
            f"dim={dim} not divisible by n_subspaces={n_subspaces}: "
            "trailing dimensions would be silently dropped from codes "
            "and recon_err"
        )
    sub_len = dim // n_subspaces

    def subvecs(col: Column, alias: str) -> Column:
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(col, m * sub_len + 1, sub_len).alias(alias),
                    )
                    for m in range(n_subspaces)
                ]
            )
        )

    subs = corpus.select(
        F.col(id_col).alias("vec_id"), subvecs(F.col(vec_col), "sv").alias("x")
    ).select("vec_id", "x.m", "x.sv")
    cents = codebook_source.select(
        F.col(id_col).alias("cid"), subvecs(F.col(vec_col), "cv").alias("x")
    ).select("cid", "x.m", "x.cv")

    d2 = F.lit(0.0)
    for i in range(sub_len):
        diff = F.get(F.col("sv"), i).cast("double") - F.get(
            F.col("cv"), i
        ).cast("double")
        d2 = d2 + diff * diff

    pairs = subs.join(F.broadcast(cents), "m").withColumn("__d2", d2)
    w = Window.partitionBy("vec_id", "m").orderBy(
        F.col("__d2").asc(), F.col("cid").asc()
    )
    best = pairs.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    aggs = []
    for m in range(n_subspaces):
        aggs.append(
            F.min(F.when(F.col("m") == m, F.col("cid"))).alias(f"code_{m}")
        )
        aggs.append(
            F.min(F.when(F.col("m") == m, F.col("__d2"))).alias(f"__e{m}")
        )
    coded = best.groupBy("vec_id").agg(*aggs)
    err = F.lit(0.0)
    for m in range(n_subspaces):
        err = err + F.col(f"__e{m}")
    return coded.withColumn("recon_err", F.round(err, round_dp)).drop(
        *[f"__e{m}" for m in range(n_subspaces)]
    )


def _subvec_structs(col: Column, n_subspaces: int, sub_len: int, alias: str) -> Column:
    """Explode a vector into (m, subvector) structs — the shared PQ
    decomposition used by the ADC lookup table and the code explode."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.slice(col, m * sub_len + 1, sub_len).alias(alias),
                )
                for m in range(n_subspaces)
            ]
        )
    )


def _adc_lut(
    queries: DataFrame,
    codebook_source: DataFrame,
    n_subspaces: int,
    sub_len: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-query (subspace, code) → squared-distance lookup table:
    queries × M·K centroid subvectors, distances accumulated
    left-to-right in float64 (the oracle's list_sum order). Tiny at any
    corpus scale — always broadcast by the caller."""
    qsubs = queries.select(
        F.col(id_col).alias("query_id"),
        _subvec_structs(F.col(vec_col), n_subspaces, sub_len, "qv").alias("x"),
    ).select("query_id", "x.m", "x.qv")
    cents = codebook_source.select(
        F.col(id_col).alias("cid"),
        _subvec_structs(F.col(vec_col), n_subspaces, sub_len, "cv").alias("x"),
    ).select("cid", "x.m", "x.cv")
    d2 = F.lit(0.0)
    for i in range(sub_len):
        diff = F.get(F.col("qv"), i).cast("double") - F.get(
            F.col("cv"), i
        ).cast("double")
        d2 = d2 + diff * diff
    return qsubs.join(F.broadcast(cents), "m").select(
        "query_id", "m", "cid", d2.alias("__d2")
    )


def _code_structs(n_subspaces: int) -> Column:
    """Explode code_0..code_{M-1} columns into (m, cid) structs."""
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(m).alias("m"), F.col(f"code_{m}").alias("cid"))
                for m in range(n_subspaces)
            ]
        )
    )


def _adc_rank(
    parts: DataFrame, n_subspaces: int, k: int, round_dp: int
) -> DataFrame:
    """(query_id, neighbor_id, m, __d2) rows → top-k ADC neighbors:
    per-subspace conditional mins added in FIXED subspace order (never
    a shuffle-order SUM — distances must stay bit-identical to the
    oracle), self excluded, rank ties broken by neighbor id."""
    aggs = [
        F.min(F.when(F.col("m") == m, F.col("__d2"))).alias(f"__a{m}")
        for m in range(n_subspaces)
    ]
    dist = parts.groupBy("query_id", "neighbor_id").agg(*aggs)
    adc = F.lit(0.0)
    for m in range(n_subspaces):
        adc = adc + F.col(f"__a{m}")
    dist = dist.withColumn("__adc", adc).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.round(F.col("__adc"), round_dp) + F.lit(0.0)).alias("adc_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook_source: DataFrame,
    k: int = 5,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes (Jégou/Douze/
    Schmid §IV): the query keeps its full float vector, the corpus is
    represented ONLY by its `pq_encode` codes, and
    dist(q, x̂) = Σ_m ‖q_m − c[code_m]‖² via a per-query lookup table.
    Completes the PQ scale path the d17 encoder starts: the scan touches
    M small ints per corpus vector instead of `dim` floats.

    Scale shape: the LUT (queries × M·K centroid subvectors) is tiny at
    any corpus size and BROADCASTS; codes explode to N·M rows and meet
    it on a broadcast hash join keyed by (m, code) — the corpus never
    reshuffles until the (query, vector) partial aggregate, which
    map-combines N·M·Q down to N·Q before the only exchange. Exhaustive
    over codes by design (the per-candidate cost is what PQ compresses);
    bound the candidate set with IVF (d13) for the combined IVFADC.

    Float discipline: each LUT entry accumulates left-to-right in
    float64; the M per-subspace terms add in fixed subspace order via
    conditional mins (never a shuffle-order SUM), so distances are
    bit-identical to the oracle and rank ties only at true equality
    (broken by neighbor id)."""
    if dim % n_subspaces != 0:
        raise ValueError(
            f"dim={dim} not divisible by n_subspaces={n_subspaces}"
        )
    sub_len = dim // n_subspaces
    lut = _adc_lut(queries, codebook_source, n_subspaces, sub_len, id_col, vec_col)
    exploded = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        _code_structs(n_subspaces).alias("x"),
    ).select("neighbor_id", "x.m", "x.cid")
    parts = exploded.join(F.broadcast(lut), ["m", "cid"])
    return _adc_rank(parts, n_subspaces, k, round_dp)


def ivfadc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    codebook_source: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """IVF + ADC combined (Jégou et al. §V — the billion-scale ANN
    layout): corpus vectors live in coarse IVF buckets as PQ codes;
    each query probes its n_probe nearest centroids and ADC-scores ONLY
    those buckets through the broadcast (subspace, code) lookup table.
    Per query the work is (N/n_clusters·n_probe) candidates × M int
    lookups — both factors bounded independently of corpus scale.

    Shuffle shape: coarse assignment is a narrow broadcast pass (d13),
    codes come from the broadcast-codebook equi-join (d17), candidates
    meet probes on a cluster equi-join (one shuffle, AQE splits hot
    buckets), and the ADC sum is a partial aggregate before the only
    remaining exchange. Determinism: probe membership uses the ROUNDED
    cosine with centroid-id tiebreak (ulp noise must not flip candidate
    sets); ADC distances accumulate in fixed subspace order."""
    corpus_assigned = assign_clusters(corpus, centroids, id_col, vec_col)
    codes = pq_encode(
        corpus, codebook_source, n_subspaces=n_subspaces, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )
    coded = corpus_assigned.select(
        F.col(id_col).alias("neighbor_id"), "cluster"
    ).join(
        codes.select(
            F.col("vec_id").alias("neighbor_id"),
            *[f"code_{m}" for m in range(n_subspaces)],
        ),
        "neighbor_id",
    )

    c = centroids.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__ce"),
        norm_f64(F.col(vec_col)).alias("__cen"),
    )
    q_probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            norm_f64(F.col(vec_col)).alias("__qn"),
        )
        .crossJoin(F.broadcast(c))
        .withColumn(
            "__sim",
            F.round(
                dot_f64(F.col("__qv"), F.col("__ce"))
                / (F.col("__qn") * F.col("__cen")),
                round_dp,
            ),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("__cid")
    )
    probes = (
        q_probes.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", F.col("__cid").alias("cluster"))
    )

    sub_len = dim // n_subspaces
    lut = _adc_lut(queries, codebook_source, n_subspaces, sub_len, id_col, vec_col)
    cand = probes.join(coded, "cluster").select(
        "query_id", "neighbor_id", _code_structs(n_subspaces).alias("x")
    ).select("query_id", "neighbor_id", "x.m", "x.cid")
    parts = cand.join(F.broadcast(lut), ["query_id", "m", "cid"])
    return _adc_rank(parts, n_subspaces, k, round_dp)
