"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (one broadcast of the query
vector, one pass, one top-k — `F.aggregate`/`zip_with` keep the dot product
JVM-side, no Python). The scale path is random-hyperplane LSH:
deterministically-derived hyperplanes bucket vectors so candidate generation
is an equi-join on (band of sign bits), turning O(n·q) into O(bucket) —
the IVF/LSH pattern for 100 TB corpora. Exactness is traded for recall;
`lsh_topk` reranks candidates with true cosine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_scores(df: DataFrame, id_col: str, vec_col: str, query: list[float]) -> DataFrame:
    q = F.array(*[F.lit(float(x)) for x in query])
    v = F.col(vec_col).cast("array<double>")
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    return df.select(F.col(id_col), F.round(cos, 6).alias("cosine"))


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact brute-force top-k by cosine (deterministic tie-break on id)."""
    return (
        cosine_scores(df, id_col, vec_col, query)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine >= t).

    Exact formulation (self-join, JVM-side dot products) — the correctness
    baseline with a direct SQL oracle. At corpus scale the same rerank runs
    over `lsh_bucket` candidate pairs instead of the full self-join (recall
    traded for the ~2^n_planes candidate reduction), exactly like
    `lsh_topk`; the exact path here is what validates that scale path.
    """
    a = df.select(F.col(id_col).alias("id_a"),
                  F.col(vec_col).cast("array<double>").alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"),
                  F.col(vec_col).cast("array<double>").alias("_vb"))
    j = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb")))
    return (
        j.select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def _probe_flips(n_planes: int, hamming: int) -> list[int]:
    """All XOR masks with popcount <= hamming over `n_planes` bits (0 first).
    Multi-probe LSH: probing every bucket within Hamming distance h of the
    home bucket trades candidate-set size C(n_planes, <=h) for recall."""
    from itertools import combinations

    out = [0]
    for d in range(1, hamming + 1):
        for bits in combinations(range(n_planes), d):
            m = 0
            for b in bits:
                m |= 1 << b
            out.append(m)
    return out


def near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
    dim: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-duplicate pairs: LSH-bucketed candidate
    generation + exact-cosine rerank — replaces the O(n^2) self-join of
    `near_dup_pairs` with an equi-join on bucket id.

    Plan shape (the one that survives 100x):
    1. bucket each vector by `n_planes` sign bits (JVM expressions, no UDF);
    2. candidates = pairs whose buckets differ in <= `probe_hamming` bits.
       The left side explodes each id into its C(n_planes, <=h) probe
       buckets (bucket XOR flip-mask); the equi-join `probe == bucket` then
       finds each qualifying pair EXACTLY once (the flip mask equal to
       bucket_a XOR bucket_b is unique), so no distinct pass is needed;
    3. exact cosine rerank of candidates only, filter >= threshold.

    Cost: candidates ~= n * E[bucket_size] * n_probes instead of n^2/2.
    Recall is the LSH trade: a true near-dup pair is missed only when its
    buckets differ in > probe_hamming bits (P ~ (angle/pi * n_planes choose
    >h); tests assert a recall floor against the exact all-pairs oracle).
    `max_bucket` drops pathological buckets (degenerate/constant embeddings)
    — the same skew guard as dedup.lsh_candidate_pairs.
    """
    from data_migration_service_spark.operators.dedup import fan_out_small_scan

    ids = fan_out_small_scan(df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ))
    ids = ids.withColumn("_bkt", lsh_bucket(ids, "_v", n_planes, seed, dim))
    if max_bucket is not None:
        sizes = ids.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
        ids = ids.join(sizes, "_bkt").where(F.col("_n") <= max_bucket).drop("_n")
    flips = _probe_flips(n_planes, probe_hamming)
    a = ids.select(
        F.col("_id").alias("id_a"),
        F.explode(F.array(*[F.col("_bkt").bitwiseXOR(F.lit(m)) for m in flips]))
        .alias("_pb"),
    )
    b = ids.select(F.col("_id").alias("id_b"), F.col("_bkt").alias("_pb"))
    cand = a.join(b, "_pb").where(F.col("id_a") < F.col("id_b")) \
            .select("id_a", "id_b")
    va = ids.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = ids.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    j = cand.join(va, "id_a").join(vb, "id_b")
    cos = _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb")))
    return (
        j.select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def _hyperplane(dim: int, plane: int, seed: int = 42) -> list[int]:
    """Deterministic ±1 hyperplane from a hash — no stored model, any worker
    can re-derive it (important: nothing to broadcast or version)."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.sha256(f"{seed}:{plane}:{d}".encode()).digest()[0]
        out.append(1 if h & 1 else -1)
    return out


def lsh_bucket(df: DataFrame, vec_col: str, n_planes: int = 8, seed: int = 42,
               dim: int = 64) -> F.Column:
    """Sign-bit bucket id: bit p = (v · hyperplane_p) > 0."""
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        hp = F.array(*[F.lit(float(x)) for x in _hyperplane(dim, p, seed)])
        bit = F.when(_dot(v, hp) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def pseudo_centroids(dim: int, n_centroids: int, seed: int = 42) -> list[list[float]]:
    """Deterministic hash-derived centroids in [-1, 1]^dim — an UNTRAINED
    coarse quantizer. Same re-derivable-anywhere property as `_hyperplane`
    (nothing to broadcast/version), and — unlike k-means output — exactly
    reproducible outside Spark, which gives the IVF probe/rerank pipeline an
    ANSI-SQL oracle. Recall quality of the cells is data-independent, so for
    production indexes prefer `ivf_fit`; this is the verification twin."""
    import hashlib

    return [
        [(hashlib.sha256(f"c:{seed}:{i}:{d}".encode()).digest()[0] / 127.5) - 1.0
         for d in range(dim)]
        for i in range(n_centroids)
    ]


def ivf_fit(df: DataFrame, vec_col: str, n_centroids: int = 16,
            seed: int = 42, max_iter: int = 20) -> list[list[float]]:
    """Train the IVF coarse quantizer (k-means centroids) with Spark ML.
    Returns plain centroid lists — the 'index' is just these floats, so it
    ships to executors as literals (no model object, no broadcast)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    km = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    return [[float(x) for x in c] for c in km.clusterCenters()]


def ivf_assign(vec_col: str, centroids: list[list[float]]) -> F.Column:
    """Nearest-centroid id, pure JVM expressions: argmin over centroids of
    |c|^2 - 2*v.c (the |v|^2 term is constant per row). array_min over
    struct(score, idx) gives the lexicographic min — i.e. the argmin with
    deterministic id tie-break."""
    v = F.col(vec_col).cast("array<double>")
    cells = []
    for i, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(x)) for x in c])
        score = F.lit(sum(x * x for x in c)) - 2.0 * _dot(v, carr)
        cells.append(F.struct(score.alias("s"), F.lit(i).alias("i")))
    return F.array_min(F.array(*cells))["i"]


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF ANN top-k: scan only the `n_probe` inverted lists (centroid
    cells) nearest to the query, exact-cosine rerank inside them.

    The complement of `lsh_topk`: LSH needs no training and handles
    adversarial distributions; IVF adapts its cells to the actual data
    (tighter candidate sets on clustered corpora — the common case for
    real embedding spaces). At 100 TB the assignment is a write-time
    column, the table is partitioned by cell id, and a query prunes to
    n_probe partitions — this function expresses the same plan with a
    runtime filter."""
    # query's probe cells, driver-side (centroids are driver floats)
    def d2(c):
        return sum(x * x for x in c) - 2 * sum(x * y for x, y in zip(query, c))

    probes = sorted(range(len(centroids)), key=lambda i: (d2(centroids[i]), i))
    probes = probes[:max(1, n_probe)]
    cand = df.withColumn("_cell", ivf_assign(vec_col, centroids)) \
             .where(F.col("_cell").isin(*probes))
    return (
        cosine_scores(cand, id_col, vec_col, query)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    eps: float = 0.95,
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-bounded
    semantic deduplication — remove documents whose EMBEDDINGS are
    near-identical even when their text is not (paraphrases, translations,
    boilerplate rewrites), the dedup family exact/MinHash/SimHash ops miss.

    Method, exactly as published: coarse-cluster the embedding space
    (k-means cells — `ivf_fit` output, or `pseudo_centroids` for the
    oracle twin), then compare pairs ONLY within a cell and drop one side
    of every pair with cosine >= eps. The cells bound the quadratic: pair
    generation is an equi-join on cell id (per-cell O(m^2), k ~ sqrt(n)
    cells keeps m small), never corpus x corpus — the same trick that
    makes `near_dup_pairs_lsh` scale, with data-adapted cells instead of
    data-oblivious hyperplanes.

    Keep rule (deterministic, SQL-expressible): a vector is DROPPED iff
    some lower-id member of its cell is eps-close to it; the lowest id of
    every eps-neighborhood always survives. This is greedy dominance —
    b dropped by a does not un-drop c when c is eps-close to b only
    (matches the paper's "keep one representative per duplicate group"
    under transitive chaining, with ids replacing the paper's
    centroid-distance ranking for cross-engine determinism).

    `max_cell` skips pathologically hot cells (degenerate embeddings) —
    the same skew guard as `near_dup_pairs_lsh(max_bucket=)`; skipped
    cells keep all members (dedup never silently drops unexamined data).

    Returns survivors `(id_col, cell)`.
    """
    ids = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    ids = ids.withColumn("_cell", ivf_assign("_v", centroids))
    pairs_src = ids
    if max_cell is not None:
        sizes = ids.groupBy("_cell").agg(F.count(F.lit(1)).alias("_n"))
        pairs_src = ids.join(sizes, "_cell").where(
            F.col("_n") <= max_cell).drop("_n")
    a = pairs_src.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "_cell")
    b = pairs_src.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "_cell")
    cos = _dot(F.col("_va"), F.col("_vb")) / (
        _norm(F.col("_va")) * _norm(F.col("_vb")))
    dropped = (
        a.join(b, "_cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cos >= eps)
        .select(F.col("id_b").alias("_id"))
        .distinct()
    )
    return (
        ids.join(dropped, "_id", "left_anti")
        .select(F.col("_id").alias(id_col), F.col("_cell").alias("cell"))
    )


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: score only vectors whose LSH bucket is within
    `probe_hamming` bits of the query's bucket (multi-probe), then exact
    cosine rerank. Candidate set is a partition-pruned fraction ~C(n_planes,
    <=probe)/2^n_planes of the corpus."""
    dim = len(query)
    with_bucket = df.withColumn("_bkt", lsh_bucket(df, vec_col, n_planes, seed, dim))

    # query bucket + probe set, computed driver-side (tiny)
    qb = 0
    for p in range(n_planes):
        hp = _hyperplane(dim, p, seed)
        if sum(x * y for x, y in zip(query, hp)) > 0:
            qb |= 1 << p
    probes = sorted({qb ^ m for m in _probe_flips(n_planes, probe_hamming)})
    cand = with_bucket.where(F.col("_bkt").isin(*probes))
    return (
        cosine_scores(cand, id_col, vec_col, query)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def sq_fit(df: DataFrame, vec_col: str, dim: int) -> tuple[list[float], list[float]]:
    """Fit an int8 scalar quantizer: per-dimension (min, max) in ONE
    aggregate pass (2*dim tiny agg expressions, map-side combine). The
    'model' is 2*dim driver floats — like `ivf_fit`'s centroids it ships
    to executors as literals, nothing broadcast or versioned."""
    v = F.col(vec_col).cast("array<double>")
    aggs = []
    for i in range(dim):
        aggs.append(F.min(v[i]).alias(f"_mn{i}"))
        aggs.append(F.max(v[i]).alias(f"_mx{i}"))
    row = df.agg(*aggs).collect()[0]
    return ([float(row[f"_mn{i}"]) for i in range(dim)],
            [float(row[f"_mx{i}"]) for i in range(dim)])


def _sq_scales(mins: list[float], maxs: list[float]) -> list[float]:
    # driver-side doubles: identical IEEE arithmetic to the SQL oracle twin
    return [255.0 / (mx - mn) if mx > mn else 0.0
            for mn, mx in zip(mins, maxs)]


def sq_code(vec_col, mins: list[float], maxs: list[float]) -> F.Column:
    """Per-dim uint8 code: clamp(floor((v-min)*scale + 0.5), 0, 255) with
    scale = 255/(max-min). floor(x+0.5) instead of round() — HALF_UP vs
    banker's rounding differs across engines; this form is bit-identical
    everywhere. Codes are exact integers, so everything computed FROM them
    is cross-engine deterministic."""
    v = (F.col(vec_col).cast("array<double>")
         if isinstance(vec_col, str) else vec_col)
    mn = F.array(*[F.lit(float(x)) for x in mins])
    sc = F.array(*[F.lit(float(x)) for x in _sq_scales(mins, maxs)])
    centered = F.zip_with(v, mn, lambda x, m: x - m)
    return F.zip_with(
        centered, sc,
        lambda x, s: F.greatest(
            F.lit(0), F.least(F.lit(255), F.floor(x * s + F.lit(0.5)))
        ).cast("int"),
    )


def sq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    rerank: int = 4,
    fit: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """ANN top-k via int8 scalar quantization (the third ANN family next to
    LSH and IVF — the faiss SQ8 pattern): candidate scoring runs entirely
    in the quantized integer domain, then `k*rerank` survivors get the
    exact float cosine.

    Plan shape at scale: one narrow scan of the code column computing
    sum((code-128)*(qcode-128)) — a pure-integer zip/fold, whole-stage
    codegen, bit-identical on any engine (the candidate CUT is therefore
    deterministic: no float last-ULP tie risk) — then a top-(k*rerank)
    TakeOrdered (no global sort), then exact rerank of that tiny set.
    Integer range is safe: |code-128| <= 128, so dim * 128^2 fits a long
    at any realistic dim."""
    mins, maxs = fit if fit is not None else sq_fit(df, vec_col, len(query))
    sc = _sq_scales(mins, maxs)
    qcode = [
        int(min(255, max(0, __import__("math").floor(
            (float(q) - mn) * s + 0.5))))
        for q, mn, s in zip(query, mins, sc)
    ]
    qarr = F.array(*[F.lit(c) for c in qcode])
    coded = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        sq_code(vec_col, mins, maxs).alias("_code"),
    )
    score_int = F.aggregate(
        F.zip_with(F.col("_code"), qarr,
                   lambda a, b: ((a - 128) * (b - 128)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cand = (
        coded.withColumn("_sq", score_int)
        .orderBy(F.desc("_sq"), F.col(id_col))
        .limit(k * rerank)
    )
    return (
        cosine_scores(cand.select(F.col(id_col), F.col("_v")),
                      id_col, "_v", query)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def pq_pseudo_codebooks(dim: int, m: int = 8, n_codes: int = 16,
                        seed: int = 42) -> list[list[list[float]]]:
    """Deterministic hash-derived PQ codebooks: m sub-quantizers, each with
    `n_codes` centroids over its dim/m-sized subspace — the UNTRAINED twin
    of `pq_fit`, re-derivable anywhere (same rationale as
    `pseudo_centroids`: gives the PQ pipeline an ANSI-SQL oracle)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    return [pseudo_centroids(dim // m, n_codes, seed=seed * 100 + j)
            for j in range(m)]


def pq_fit(df: DataFrame, vec_col: str, m: int = 8, n_codes: int = 16,
           seed: int = 42, max_iter: int = 20) -> list[list[list[float]]]:
    """Train PQ codebooks: independent k-means per subspace (the classic
    Jegou et al. 2011 product quantizer). Like `ivf_fit`, the 'index' is
    plain driver floats — m * n_codes * (dim/m) of them — shipped to
    executors as literals."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(df.select(F.col(vec_col)).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    out = []
    for j in range(m):
        train = df.select(array_to_vector(
            F.slice(F.col(vec_col).cast("array<double>"),
                    j * dsub + 1, dsub)).alias("features"))
        km = KMeans(k=n_codes, seed=seed + j, maxIter=max_iter).fit(train)
        out.append([[float(x) for x in c] for c in km.clusterCenters()])
    return out


def pq_assign(vec_col, codebooks: list[list[list[float]]]) -> F.Column:
    """PQ code array (length m): per subspace, the argmin-distance centroid
    id — `|c|^2 - 2 v_j·c` with lexicographic [score, idx] tie-break,
    exactly `ivf_assign` applied per subspace. Pure JVM expressions. At
    corpus scale this is a WRITE-TIME column (m bytes/vector vs 8*dim for
    doubles — 64x compression at dim=64, m=8)."""
    v = (F.col(vec_col).cast("array<double>")
         if isinstance(vec_col, str) else vec_col)
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    parts = []
    for j, cb in enumerate(codebooks):
        vj = F.slice(v, j * dsub + 1, dsub)
        cells = []
        for i, c in enumerate(cb):
            carr = F.array(*[F.lit(float(x)) for x in c])
            score = F.lit(sum(x * x for x in c)) - 2.0 * _dot(vj, carr)
            cells.append(F.struct(score.alias("s"), F.lit(i).alias("i")))
        parts.append(F.array_min(F.array(*cells))["i"])
    return F.array(*parts)


def _pq_int_lut(query: list[float],
                codebooks: list[list[list[float]]]) -> list[list[int]]:
    """ADC lookup tables, INTEGER-quantized: ilut[j][c] =
    floor(dot(q_j, codebook[j][c]) * 2^20 + 0.5). Integer scores make the
    candidate cut order-independent and bit-identical cross-engine (the
    same determinism trick as sq_topk); the 2^20 scale keeps ~6 decimal
    digits of the dot product, far below any meaningful ADC resolution."""
    import math

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out = []
    for j, cb in enumerate(codebooks):
        qj = query[j * dsub:(j + 1) * dsub]
        out.append([
            int(math.floor(sum(a * b for a, b in zip(qj, c)) * (1 << 20)
                           + 0.5))
            for c in cb
        ])
    return out


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    rerank: int = 4,
) -> DataFrame:
    """ANN top-k via product quantization with asymmetric distance
    computation (IVF-PQ's scoring half — the billion-scale standard): the
    query stays full-precision, each corpus vector is its m-byte PQ code,
    and the approximate inner product is m table lookups
    sum_j lut[j][code_j] — no arithmetic on the vector at all.

    Plan shape at scale: scan ONLY the code column (m bytes/vector),
    m `element_at`s on literal arrays + an integer sum per row (whole-stage
    codegen), top-(k*rerank) TakeOrdered, exact-cosine rerank of the
    survivors. The integer LUT makes the cut deterministic cross-engine."""
    ilut = _pq_int_lut(query, codebooks)
    coded = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        pq_assign(vec_col, codebooks).alias("_code"),
    )
    score = None
    for j, lut in enumerate(ilut):
        term = F.element_at(
            F.array(*[F.lit(x).cast("long") for x in lut]),
            F.col("_code")[j] + 1)
        score = term if score is None else score + term
    cand = (
        coded.withColumn("_adc", score)
        .orderBy(F.desc("_adc"), F.col(id_col))
        .limit(k * rerank)
    )
    return (
        cosine_scores(cand.select(F.col(id_col), F.col("_v")),
                      id_col, "_v", query)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def pq_fit_residuals(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    max_iter: int = 20,
) -> list[list[list[float]]]:
    """Train PQ codebooks on IVF RESIDUALS (v - nearest coarse centroid) —
    the IVFADC formulation (Jegou et al. 2011 §III): residuals are what PQ
    actually encodes in a combined IVF-PQ index, and they are much better
    conditioned than raw vectors (the coarse quantizer has removed the
    between-cell variance, so each sub-quantizer spends its 2^bits codes on
    the within-cell remainder). Same contract as `pq_fit`: the returned
    'index' is plain driver floats, shipped as literals."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(centroids[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    res = df.select(_residual_col(vec_col, centroids).alias("_r"))
    out = []
    for j in range(m):
        train = res.select(array_to_vector(
            F.slice(F.col("_r"), j * dsub + 1, dsub)).alias("features"))
        km = KMeans(k=n_codes, seed=seed + j, maxIter=max_iter).fit(train)
        out.append([[float(x) for x in c] for c in km.clusterCenters()])
    return out


def _residual_col(vec_col, centroids: list[list[float]],
                  cell: F.Column | None = None) -> F.Column:
    """v - centroid[nearest cell]: elementwise double subtraction (exactly
    rounded, so bit-identical on any engine), centroid picked by the same
    argmin as `ivf_assign` (or a precomputed `cell` column)."""
    v = (F.col(vec_col).cast("array<double>")
         if isinstance(vec_col, str) else vec_col)
    cent_lit = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    if cell is None:
        cell = ivf_assign_col(v, centroids)
    return F.zip_with(v, F.element_at(cent_lit, cell + 1),
                      lambda a, b: a - b)


def ivf_assign_col(v: F.Column, centroids: list[list[float]]) -> F.Column:
    """`ivf_assign` over an arbitrary array<double> Column."""
    cells = []
    for i, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(x)) for x in c])
        score = F.lit(sum(x * x for x in c)) - 2.0 * _dot(v, carr)
        cells.append(F.struct(score.alias("s"), F.lit(i).alias("i")))
    return F.array_min(F.array(*cells))["i"]


def _ivfpq_adc(cell: F.Column, code: F.Column, query: list[float],
               centroids: list[list[float]],
               codebooks: list[list[list[float]]],
               probes: list[int]) -> F.Column:
    """Integer ADC score: one LUT per probed cell, built from the query's
    residual vs that cell's centroid (driver floats; elementwise q-c
    subtraction matches the executor-side residual bit-for-bit), selected
    by a codegen CASE on the cell id."""
    import math

    dsub = len(codebooks[0][0])

    def cell_score(ci: int) -> F.Column:
        qr = [q - c for q, c in zip(query, centroids[ci])]
        score = None
        for j, cb in enumerate(codebooks):
            lut = [int(math.floor(
                sum(a * b for a, b in zip(qr[j * dsub:(j + 1) * dsub], c))
                * (1 << 20) + 0.5)) for c in cb]
            term = F.element_at(F.array(*[F.lit(x).cast("long") for x in lut]),
                                code[j] + 1)
            score = term if score is None else score + term
        return score

    adc = None
    for ci in probes:
        adc = F.when(cell == ci, cell_score(ci)) if adc is None \
            else adc.when(cell == ci, cell_score(ci))
    return adc


def _query_probes(query: list[float], centroids: list[list[float]],
                  n_probe: int) -> list[int]:
    """Driver-side top-n_probe cells for a query vector (argmin of
    |c|^2 - 2 q·c with index tie-break — the same rule as `ivf_assign`)."""
    def d2(c):
        return sum(x * x for x in c) - 2 * sum(x * y for x, y in zip(query, c))

    order = sorted(range(len(centroids)), key=lambda i: (d2(centroids[i]), i))
    return order[:max(1, min(n_probe, len(centroids)))]


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 4,
) -> DataFrame:
    """IVF-PQ ANN top-k — the full IVFADC pipeline (Jegou et al. 2011),
    composing this module's coarse quantizer (`ivf_assign` cells, probe
    pruning) with product-quantized asymmetric-distance scoring over
    RESIDUALS:

      1. restrict to the `n_probe` cells nearest the query (as `ivf_topk`);
      2. inside a probed cell, each vector's residual r = v - centroid is
         PQ-coded (m sub-quantizer argmins — at 100 TB this is a WRITE-TIME
         m-byte column, like `pq_assign`'s);
      3. ADC score = m integer-LUT lookups, with a LUT PER PROBED CELL
         built from the query's own residual q - centroid (asymmetric:
         the query is never quantized);
      4. exact-cosine rerank of the k*rerank ADC survivors.

    Plan shape at scale: the cell filter prunes to n_probe partitions of a
    cell-partitioned table, the scan reads only (id, cell, m-byte code),
    scoring is a codegen `CASE WHEN cell=...` over literal LUT arrays, and
    only the k*rerank survivors ever touch full vectors. Integer LUTs
    (floor(dot * 2^20 + 0.5), as `pq_topk`) keep the candidate cut
    order-independent and bit-identical cross-engine, which is what lets
    the whole composition be oracle-checked end-to-end with
    `pseudo_centroids` + `pq_pseudo_codebooks`."""
    probes = _query_probes(query, centroids, n_probe)
    v = F.col(vec_col).cast("array<double>")
    cand = (
        df.select(F.col(id_col), v.alias("_v"))
        .withColumn("_cell", ivf_assign_col(F.col("_v"), centroids))
        .where(F.col("_cell").isin(*probes))
        .withColumn("_code",
                    pq_assign(_residual_col(F.col("_v"), centroids,
                                            cell=F.col("_cell")),
                              codebooks))
    )

    adc = _ivfpq_adc(F.col("_cell"), F.col("_code"), query, centroids,
                     codebooks, probes)
    cand = cand.withColumn("_adc", adc) \
               .orderBy(F.desc("_adc"), F.col(id_col)).limit(k * rerank)
    return (
        cosine_scores(cand.select(F.col(id_col), F.col("_v")),
                      id_col, "_v", query)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def pq_index(df: DataFrame, id_col: str, vec_col: str,
             centroids: list[list[float]],
             codebooks: list[list[list[float]]]) -> DataFrame:
    """Persistable IVF-PQ index rows (id, cell, code, vec) — the write-time
    half of `ivfpq_topk`, factored out so the expensive parts (cell argmin,
    residual PQ coding) run ONCE per ingested vector instead of per query.
    Every column is row-local (nothing trained at index time — centroids
    and codebooks are inputs), so the index is built once per corpus and
    APPENDED per batch, exactly like `vector_index`.

    Store partitioned by `cell`: a search prunes to n_probe partitions and
    scans only (id, cell, code) — m bytes per vector — touching `vec` just
    for the k*rerank rerank survivors. At 100 TB keep `vec` in a separate
    column family / table joined back by id if the store charges for
    column-pruned-but-present blobs."""
    v = F.col(vec_col).cast("array<double>")
    out = df.select(F.col(id_col), v.alias("vec")) \
            .withColumn("cell", ivf_assign_col(F.col("vec"), centroids))
    return out.withColumn(
        "code", pq_assign(_residual_col(F.col("vec"), centroids,
                                        cell=F.col("cell")), codebooks))


def ivfpq_search(
    index: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 4,
) -> DataFrame:
    """Query a stored `pq_index`: cell-partition-pruned scan of the probed
    cells, integer ADC over the STORED codes (no per-query re-coding — the
    difference from `ivfpq_topk`, which computes codes inline), exact
    rerank via the stored vectors. Identical results to `ivfpq_topk` on
    the same corpus and parameters (pinned in tests)."""
    probes = _query_probes(query, centroids, n_probe)
    cand = index.where(F.col("cell").isin(*probes))
    adc = _ivfpq_adc(F.col("cell"), F.col("code"), query, centroids,
                     codebooks, probes)
    cand = cand.withColumn("_adc", adc) \
               .orderBy(F.desc("_adc"), F.col(id_col)).limit(k * rerank)
    return (
        cosine_scores(cand.select(F.col(id_col), F.col("vec")),
                      id_col, "vec", query)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def vector_index(df: DataFrame, id_col: str, vec_col: str,
                 n_planes: int = 8, seed: int = 42,
                 dim: int = 64) -> DataFrame:
    """Persistable ANN index rows (id, bucket, vec) — the embedding twin of
    `dedup.band_signatures`. Each row depends only on its own vector (the
    hyperplanes are hash-derived, nothing trained or broadcast), so the
    index is built once per corpus and APPENDED per ingested batch. Store
    partitioned by `bucket` so incremental probes prune to hit buckets."""
    from data_migration_service_spark.operators.dedup import fan_out_small_scan

    ids = fan_out_small_scan(df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ))
    return ids.withColumn(
        "bucket", lsh_bucket(ids, "vec", n_planes, seed, dim))


def incremental_near_dup_pairs(
    new_index: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    probe_hamming: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs INTRODUCED by a new batch, probed against a
    stored `vector_index` — the CDC shape of embedding dedup (the vector
    twin of `dedup.incremental_lsh_pairs`): each ingested epoch buckets
    ONLY its own vectors, probes the index, reranks candidates with exact
    cosine, then appends its own index rows. The corpus is never re-hashed
    or re-joined against itself.

    Plan shape at scale: the new batch explodes into its probe buckets
    (Hamming <= probe_hamming flips); the index is touched once via a
    semi-join on that bucket set — bucket-partition-pruned when stored per
    `vector_index`, AQE-broadcast when the batch is small. The flip-mask
    equi-join finds each qualifying pair exactly once (the mask equal to
    bucket_a XOR bucket_b is unique), so no distinct pass.

    `max_bucket` caps the COMBINED (corpus + new) bucket population —
    identical semantics to `near_dup_pairs_lsh` over the union. Exact
    invariant (tested + oracle):

        incremental_near_dup_pairs(new, index)
          == near_dup_pairs_lsh(corpus ∪ new) restricted to pairs with
             at least one new member.

    Precondition: new ids are disjoint from index ids (re-ingests replace
    their index rows first). Output: (id_a, id_b, cosine, pair_kind) with
    id_a < id_b and pair_kind in {'new_new', 'new_corpus'}."""
    new_b = new_index.select(
        F.col(id_col).alias("_id"), "vec", "bucket",
        F.lit(True).alias("_new"))
    flips = _probe_flips(n_planes, probe_hamming)
    probe_buckets = new_b.select(F.explode(F.array(
        *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in flips]
    )).alias("bucket")).distinct()
    hit = index.select(
        F.col(id_col).alias("_id"), "vec", "bucket",
        F.lit(False).alias("_new"),
    ).join(probe_buckets, "bucket", "left_semi")
    both = new_b.unionByName(hit)
    if max_bucket is not None:
        sizes = both.groupBy("bucket").agg(F.count(F.lit(1)).alias("_n"))
        both = both.join(sizes, "bucket").where(
            F.col("_n") <= max_bucket).drop("_n")
    a = both.select(
        F.col("_id").alias("id_a"), F.col("vec").alias("_va"),
        F.col("_new").alias("_new_a"),
        F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m))
                            for m in flips])).alias("_pb"))
    b = both.select(
        F.col("_id").alias("id_b"), F.col("vec").alias("_vb"),
        F.col("_new").alias("_new_b"), F.col("bucket").alias("_pb"))
    cos = _dot(F.col("_va"), F.col("_vb")) / (
        _norm(F.col("_va")) * _norm(F.col("_vb")))
    return (
        a.join(b, "_pb")
        .where((F.col("id_a") < F.col("id_b"))
               & (F.col("_new_a") | F.col("_new_b")))
        .select(
            "id_a", "id_b", cos.alias("cosine"),
            F.when(F.col("_new_a") & F.col("_new_b"), F.lit("new_new"))
            .otherwise(F.lit("new_corpus")).alias("pair_kind"),
        )
        .where(F.col("cosine") >= threshold)
    )
