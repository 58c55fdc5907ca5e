"""Similarity search over embedding columns — brute-force + LSH-bucketed.

Operators for an ``embeddings(vec_id, embedding array<float>, label)``
table:

  * ``cosine_topk`` — exact brute-force cosine top-k: the correctness
    baseline. The scale story is Catalyst-shaped: the query set is tiny
    and broadcast; per (query, candidate) scoring is a JVM-codegen'd
    ``zip_with``/``aggregate`` fold (no Python); top-k per query is a
    window row_number (per-partition heap + small shuffle).
  * ``hyperplane_buckets`` / ``lsh_cosine_topk`` — random-hyperplane LSH
    (Charikar): sign bits of projections onto fixed hyperplanes bucket the
    vectors; search touches only the query's bucket — the 100 TB path
    (bucket count scales with corpus, bucket join is an equi-join).

Determinism/parity contract: vectors are first quantized to the 1/4096
grid (``floor(x*4096 + 0.5)`` as int64). All dot products and norms are
then EXACT integer arithmetic — associativity-proof, so a SQL oracle in
any engine reproduces cosine scores bit-for-bit (final cosine is a single
double expression over exact ints). Hyperplanes use small integer
coefficients ((i*31 + j*17) mod 13 - 6) — deterministic, no RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUANT = 4096


def quantize(df: DataFrame, col: str = "embedding") -> DataFrame:
    """embedding array<float> -> q array<bigint> on the 1/4096 grid."""
    q = F.transform(F.col(col),
                    lambda x: F.floor(x.cast("double") * QUANT + 0.5).cast("long"))
    return df.withColumn("q", q).withColumn(
        "norm2", F.aggregate("q", F.lit(0).cast("long"),
                             lambda acc, x: acc + x * x))


def quantize_int8(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the 4×
    storage-compression step production vector stores apply before ANN
    (public knowledge: the standard absmax scheme, scale = max|x|/127,
    q = clamp(round(x/scale), ±127)). Returns the frame plus
    ``q8 array<int>`` and ``scale double``; dequantized value =
    q8_i · scale. Rounding pins ``floor(x/scale + 0.5)`` (exact f64
    both engine- and oracle-side); an all-zero vector gets scale 0 and
    all-zero codes.

    Scale shape: pure narrow expressions — no shuffle, no UDF.
    """
    x = F.transform(F.col(col), lambda v: v.cast("double"))
    amax = F.array_max(F.transform(x, F.abs))
    scale = amax / F.lit(127.0)
    q8 = F.transform(
        x, lambda v: F.when(scale == 0.0, F.lit(0)).otherwise(
            F.greatest(F.least(F.floor(v / scale + 0.5), F.lit(127.0)),
                       F.lit(-127.0))).cast("int"))
    return (df.withColumn("scale", scale).withColumn("q8", q8)
            .withColumn("norm2_8",
                        F.aggregate("q8", F.lit(0).cast("long"),
                                    lambda acc, v: acc
                                    + v.cast("long") * v.cast("long"))))


def cosine_topk_int8(embeddings: DataFrame, query_ids: list[int],
                     k: int = 5) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors — the
    compressed-storage twin of :func:`cosine_topk` (per-vector scales
    cancel in the cosine, so scoring runs directly on the int8 codes:
    exact integer dot/norms combined in one double expression). Returns
    (qid, rank, vec_id, cosine8)."""
    base = quantize_int8(embeddings).select("vec_id", "q8", "norm2_8")
    queries = (base.filter(F.col("vec_id").isin(query_ids))
               .select(F.col("vec_id").alias("qid"),
                       F.col("q8").alias("qq"),
                       F.col("norm2_8").alias("qnorm2")))
    pairs = base.crossJoin(F.broadcast(queries)) \
        .filter(F.col("vec_id") != F.col("qid"))
    # zero-norm codes: undefined cosine, excluded (see cosine_topk)
    pairs = pairs.filter((F.col("norm2_8") > 0) & (F.col("qnorm2") > 0))
    dot = F.aggregate(F.zip_with("qq", "q8",
                                 lambda a, b: a.cast("long") * b.cast("long")),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    scored = pairs.select(
        "qid", "vec_id",
        (dot / (F.sqrt(F.col("qnorm2").cast("double"))
                * F.sqrt(F.col("norm2_8").cast("double"))))
        .alias("cosine8"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine8"),
                                          F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "cosine8"))


def cosine_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                ) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self excluded).

    Returns (qid, rank, vec_id, cosine) — cosine computed from exact
    integer dot/norms in one double expression.
    """
    base = quantize(embeddings).select("vec_id", "q", "norm2")
    queries = (base.filter(F.col("vec_id").isin(query_ids))
               .select(F.col("vec_id").alias("qid"), F.col("q").alias("qq"),
                       F.col("norm2").alias("qnorm2")))
    pairs = base.crossJoin(F.broadcast(queries)) \
        .filter(F.col("vec_id") != F.col("qid"))
    # zero-norm vectors (failed encodes, padding rows) have undefined
    # cosine: excluded from candidates AND queries — under Spark's ANSI
    # mode the bare division would otherwise abort the whole job on one
    # bad row (found by the ann fuzz family)
    pairs = pairs.filter((F.col("norm2") > 0) & (F.col("qnorm2") > 0))
    dot = F.aggregate(F.zip_with("qq", "q", lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = pairs.select(
        "qid", "vec_id",
        (dot / (F.sqrt(F.col("qnorm2").cast("double"))
                * F.sqrt(F.col("norm2").cast("double")))).alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "cosine"))


def mmr_rerank(index, query, embeddings: DataFrame, k: int = 3,
               window: int = 12, lam: float = 0.7,
               mode: str = "f64") -> DataFrame:
    """Maximal Marginal Relevance result diversification (public
    knowledge: Carbonell & Goldstein, SIGIR 1998): greedily re-rank the
    first-pass top-``window`` so each pick maximizes
    ``lam·rel(d) − (1−lam)·max_{s∈selected} cos(d, s)`` — relevance
    traded against redundancy. Pins: rel = the f64-mode BM25 score,
    cos = the exact integer-grid cosine (:func:`quantize`), the first
    pick's redundancy term is 0, ties break doc_id asc, docs without an
    embedding get similarity 0. Returns (rank, doc_id, mmr) with mmr
    f32-rounded like every exposed score.

    Scale shape: the greedy loop is k·window driver-side arithmetic over
    one k-bounded collect (the ReRank/LTR window pattern); candidate
    vectors arrive via an ``isin`` pushdown on the embeddings table.
    """
    import math

    from sparklucene.search import search

    first = search(index, query, k=window, mode=mode).collect()
    ids = [int(r["doc_id"]) for r in first]
    rel = {int(r["doc_id"]): float(r["score"]) for r in first}
    rows = (quantize(embeddings.filter(F.col("vec_id").isin(ids)))
            .select("vec_id", "q", "norm2").collect())
    vecs = {int(r["vec_id"]): (list(r["q"]), int(r["norm2"])) for r in rows}

    def cos(a: int, b: int) -> float:
        va, vb = vecs.get(a), vecs.get(b)
        if va is None or vb is None or va[1] == 0 or vb[1] == 0:
            return 0.0
        dot = sum(x * y for x, y in zip(va[0], vb[0]))
        return dot / (math.sqrt(float(va[1])) * math.sqrt(float(vb[1])))

    selected: list[tuple[int, float]] = []
    cands = sorted(ids)
    while cands and len(selected) < k:
        best = None
        for d in cands:
            ms = max((cos(d, s) for s, _ in selected), default=0.0)
            mmr = lam * rel[d] - (1.0 - lam) * ms
            # cands is iterated in ascending doc_id order, so the
            # strict > keeps the EARLIER candidate on ties — the
            # doc_id-asc tie-break, enforced by iteration order
            if best is None or mmr > best[1]:
                best = (d, mmr)
        selected.append(best)
        cands.remove(best[0])
    import numpy as np
    data = [(r + 1, d, float(np.float32(m)))
            for r, (d, m) in enumerate(selected)]
    return index.spark.createDataFrame(
        data, "rank long, doc_id long, mmr double")


def _plane_coeff(i: int, j: int) -> int:
    return (i * 31 + j * 17) % 13 - 6


def _md5_hash60(col) -> "F.Column":
    """60-bit integer from the md5 of a value — the engine's ONE pinned
    deterministic pseudo-random spread (used by ivf_index seeding and
    the PQ codebooks; DuckDB mirror:
    ('0x'||substring(md5(x::VARCHAR),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15),
                  16, 10).cast("long")


def _infer_dim(embeddings: DataFrame, col: str = "embedding") -> int:
    """Embedding dimensionality from the first row (one tiny driver job)."""
    row = embeddings.select(F.size(col).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError("cannot infer embedding dim: table is empty "
                         "or first embedding is null/empty")
    return int(row["d"])


def hyperplane_buckets(embeddings: DataFrame, n_planes: int = 8,
                       dim: int | None = None) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: bit i = sign of the
    (exact, integer) projection onto deterministic plane i.

    ``dim`` is inferred from the data when omitted. A row whose embedding
    size differs from ``dim`` raises (assert folded into the bucket
    expression) — silent NULL-padded projections would collapse vectors
    into degenerate buckets and destroy recall.
    """
    if dim is None:
        dim = _infer_dim(embeddings)
    base = quantize(embeddings)
    bits = []
    for i in range(n_planes):
        plane = F.array(*[F.lit(_plane_coeff(i, j)) for j in range(dim)])
        proj = F.aggregate(F.zip_with(plane, F.col("q"), lambda a, b: a * b),
                           F.lit(0).cast("long"), lambda acc, x: acc + x)
        bits.append(F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    dim_ok = F.assert_true(F.size("q") == F.lit(dim),
                           F.lit(f"embedding dim mismatch: expected {dim}"))
    # when(dim_ok.isNull(), ...) keeps the assert inside the used column so
    # Catalyst cannot prune it away
    return base.withColumn("bucket",
                           F.when(dim_ok.isNull(), bucket.cast("long")))


def _probe_masks(n_planes: int, probes: int) -> list[int]:
    """XOR masks for every bucket within Hamming distance <= probes."""
    import itertools

    masks = [0]
    for d in range(1, probes + 1):
        for bits in itertools.combinations(range(n_planes), d):
            masks.append(sum(1 << b for b in bits))
    return masks


def lsh_cosine_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                    n_planes: int = 8, dim: int | None = None,
                    probes: int = 0) -> DataFrame:
    """ANN top-k restricted to the query's hyperplane bucket(s).

    ``probes`` is the recall dial (multi-probe LSH — Lv et al., VLDB'07):
    additionally search every bucket within Hamming distance <= probes of
    the query's bucket by exploding the query against that XOR-mask set —
    the join stays a pure equi-join on bucket (scale-safe; a candidate's
    single bucket matches at most one probe value, so no dedup needed).
    probes=0 is classic single-bucket LSH; probes=1 searches n_planes+1
    buckets.
    """
    if dim is None:
        dim = _infer_dim(embeddings)
    bucketed = hyperplane_buckets(embeddings, n_planes, dim) \
        .select("vec_id", "q", "norm2", "bucket")
    queries = (bucketed.filter(F.col("vec_id").isin(query_ids))
               .select(F.col("vec_id").alias("qid"), F.col("q").alias("qq"),
                       F.col("norm2").alias("qnorm2"),
                       F.col("bucket").alias("qbucket")))
    if probes > 0:
        masks = F.array(*[F.lit(m) for m in _probe_masks(n_planes, probes)])
        queries = queries.withColumn(
            "qbucket", F.explode(F.transform(
                masks, lambda m: F.col("qbucket").bitwiseXOR(m))))
    cand = bucketed.join(F.broadcast(queries),
                         (F.col("bucket") == F.col("qbucket"))
                         & (F.col("vec_id") != F.col("qid")))
    # zero-norm vectors: undefined cosine, excluded (see cosine_topk)
    cand = cand.filter((F.col("norm2") > 0) & (F.col("qnorm2") > 0))
    dot = F.aggregate(F.zip_with("qq", "q", lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = cand.select(
        "qid", "vec_id", "bucket",
        (dot / (F.sqrt(F.col("qnorm2").cast("double"))
                * F.sqrt(F.col("norm2").cast("double")))).alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "bucket", "cosine"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — k-means coarse quantizer + cluster probe
# ---------------------------------------------------------------------------

def _centroid_scores(q_col, cents: list[tuple[int, list[int], int]]):
    """Column: (best cosine-vs-centroid, centroid id) struct for a
    quantized vector column.

    Centroids are kept as INTEGER sum vectors (S, snorm2): with
    c_j = S_j / n_j, cosine(v, c_j) = dot_int(v, S_j) / (|v|·|S_j|) —
    n_j cancels and every input to the float expression is an exact
    int64, so assignment is deterministic and SQL-mirrorable (the same
    integer-grid trick as the cosine oracle). |v| is constant across j
    and dropped. Ties break to the smallest centroid id.
    """
    entries = []
    for cid, s_vec, snorm2 in cents:
        if snorm2 <= 0:  # a zero sum vector would score NaN for every doc
            continue
        s_lit = F.array(*[F.lit(int(x)) for x in s_vec])
        dot = F.aggregate(F.zip_with(q_col, s_lit, lambda a, b: a * b),
                          F.lit(0).cast("long"), lambda acc, x: acc + x)
        score = dot / F.sqrt(F.lit(float(snorm2)))
        entries.append(F.struct(score.alias("score"),
                                F.lit(-cid).cast("long").alias("negid")))
    if not entries:
        raise ValueError("ivf: every centroid has a zero sum vector")
    best = F.array_max(F.array(*entries))
    return (-best["negid"]).alias("centroid"), best["score"]


def ivf_index(embeddings: DataFrame, n_centroids: int = 8,
              iters: int = 2) -> tuple[DataFrame, list[tuple[int, list[int], int]]]:
    """IVF coarse quantizer: deterministic spherical k-means (Lloyd) on
    the 1/4096 integer grid.

    Init = the ``n_centroids`` non-zero vectors minimizing a 60-bit md5
    hash of vec_id (deterministic pseudo-random spread, no RNG; centroid
    ids assigned in vec_id order). ``orderBy(h).limit(n)`` compiles to
    TakeOrderedAndProject — per-partition heaps, the driver merges only n
    rows — unlike a partitionless row_number window, which would funnel
    the whole corpus through one task. Each iteration: assign every
    vector to its best centroid (see _centroid_scores), then rebuild
    centroids as per-dimension INTEGER sums (posexplode → partial+final
    sum — exact, order-free); an emptied cluster, or one whose members'
    sums cancel to the zero vector (snorm2=0 would put NaN in every
    score), keeps its previous state. Returns (assignment
    DataFrame(vec_id, centroid), centroid state [(id, S, snorm2)]).

    Scale: assignment is a narrow map over the corpus (centroids are
    literals in the plan — broadcast by construction); the update is one
    groupBy(centroid, dim) partial aggregate. Driver holds only
    n_centroids × dim integers.
    """
    base = quantize(embeddings).select("vec_id", "q", "norm2")
    h = _md5_hash60(F.col("vec_id"))
    seeds = (base.filter(F.col("norm2") > 0)
             .select("vec_id", "q").withColumn("h", h)
             .orderBy("h", "vec_id").limit(n_centroids).collect())
    if not seeds:
        raise ValueError("ivf_index: no non-zero vectors to seed centroids")
    seeds.sort(key=lambda r: r["vec_id"])
    cents = [(cid, [int(x) for x in r["q"]],
              sum(int(x) * int(x) for x in r["q"]))
             for cid, r in enumerate(seeds)]
    assigned = None
    for _ in range(iters):
        cent_col, _score = _centroid_scores(F.col("q"), cents)
        assigned = base.withColumn("centroid", cent_col)
        sums = (assigned.select("centroid", F.posexplode("q")
                                .alias("dim", "val"))
                .groupBy("centroid", "dim")
                .agg(F.sum("val").alias("s"))
                .collect())
        by_cid: dict[int, dict[int, int]] = {}
        for r in sums:
            by_cid.setdefault(int(r["centroid"]), {})[int(r["dim"])] = int(r["s"])
        new_cents = []
        for cid, s_vec, snorm2 in cents:
            dims = by_cid.get(cid)
            if dims is None:  # emptied cluster keeps its previous state
                new_cents.append((cid, s_vec, snorm2))
                continue
            s = [dims.get(d, 0) for d in range(len(s_vec))]
            n2 = sum(x * x for x in s)
            if n2 == 0:  # cancelled-out sum: keep previous (NaN guard)
                new_cents.append((cid, s_vec, snorm2))
                continue
            new_cents.append((cid, s, n2))
        cents = new_cents
    cent_col, _ = _centroid_scores(F.col("q"), cents)
    assigned = base.withColumn("centroid", cent_col)
    return assigned, cents


def ivf_cosine_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                    n_centroids: int = 8, iters: int = 2,
                    nprobe: int = 1) -> DataFrame:
    """IVF ANN top-k: probe the query's ``nprobe`` best clusters and rank
    their members by exact integer-grid cosine — the coarse-quantizer
    scale path next to LSH (`lsh_cosine_topk`). Returns
    (qid, rank, vec_id, centroid, cosine)."""
    assigned, cents = ivf_index(embeddings, n_centroids, iters)
    # per-query probe list: top-nprobe centroids by the same score
    entries = []
    for cid, s_vec, snorm2 in cents:
        s_lit = F.array(*[F.lit(int(x)) for x in s_vec])
        dot = F.aggregate(F.zip_with("qq", s_lit, lambda a, b: a * b),
                          F.lit(0).cast("long"), lambda acc, x: acc + x)
        entries.append(F.struct((dot / F.sqrt(F.lit(float(snorm2))))
                                .alias("score"),
                                F.lit(-cid).cast("long").alias("negid")))
    probe_arr = F.slice(F.reverse(F.array_sort(F.array(*entries))), 1, nprobe)
    queries = (assigned.filter(F.col("vec_id").isin(query_ids))
               .select(F.col("vec_id").alias("qid"), F.col("q").alias("qq"),
                       F.col("norm2").alias("qnorm2"))
               .withColumn("probe", F.explode(probe_arr))
               .select("qid", "qq", "qnorm2",
                       (-F.col("probe.negid")).alias("pcentroid")))
    cand = assigned.join(F.broadcast(queries),
                         (F.col("centroid") == F.col("pcentroid"))
                         & (F.col("vec_id") != F.col("qid")))
    # zero-norm vectors: undefined cosine, excluded (see cosine_topk)
    cand = cand.filter((F.col("norm2") > 0) & (F.col("qnorm2") > 0))
    dot = F.aggregate(F.zip_with("qq", "q", lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = cand.select(
        "qid", "vec_id", "centroid",
        (dot / (F.sqrt(F.col("qnorm2").cast("double"))
                * F.sqrt(F.col("norm2").cast("double")))).alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "centroid", "cosine"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — per-subspace codebooks + ADC scoring
# ---------------------------------------------------------------------------

def pq_index(embeddings: DataFrame, m: int = 4, ksub: int = 4,
             iters: int = 2) -> tuple[DataFrame, list[list[tuple[int, list[int], int, int]]]]:
    """Product quantizer (public knowledge: Jégou, Douze, Schmid,
    "Product quantization for nearest neighbor search", IEEE TPAMI 2011):
    split each vector into ``m`` contiguous subvectors and learn an
    independent ``ksub``-entry codebook per subspace; a vector is stored
    as ``m`` small codes — m·log2(ksub) bits instead of dim floats, the
    compression that makes billion-vector ANN fit on disk.

    Codebooks use the engine's pinned deterministic spherical k-means
    (exactly :func:`ivf_index`'s math, per subspace): md5-ordered nonzero
    seeds, cosine assignment ``dot_int(v_j, S) / sqrt(snorm2)`` with ties
    to the smallest centroid id, INTEGER-sum centroid updates (an emptied
    or cancelled-to-zero cluster keeps its previous state). Classic PQ
    trains with L2 k-means; the spherical variant is pinned here so every
    arithmetic input stays an exact int64 and a SQL oracle reproduces the
    whole pipeline bit-for-bit.

    Returns ``(codes, states)`` — codes = DataFrame(vec_id, norm2,
    code_0..code_{m-1}); states[j] = [(cid, S_vec, n_members, snorm2)]
    with centroid mean = S/n.

    Scale shape: seeding is ONE job (per-subspace partitioned window over
    md5 keys, ksub·m rows to the driver); each Lloyd iteration is one
    narrow assignment map (codebooks are plan literals) plus ONE
    groupBy(subspace, code, dim) partial aggregate returning
    m·ksub·(dim/m) = dim·ksub integers. Nothing data-proportional ever
    reaches the driver.
    """
    from functools import reduce

    dim = _infer_dim(embeddings)
    if m <= 0 or dim % m:
        raise ValueError(f"pq_index: dim {dim} not divisible into m={m} "
                         "subspaces")
    d = dim // m
    base = quantize(embeddings).select("vec_id", "q", "norm2")
    sub = base.select(
        "vec_id", "norm2",
        *[F.slice("q", j * d + 1, d).alias(f"sub_{j}") for j in range(m)])
    sub = sub.localCheckpoint(eager=False)

    # seeds: per subspace, the ksub nonzero subvectors minimizing the
    # 60-bit md5 hash of vec_id (ONE job: partitioned window, m*ksub rows)
    zero = F.lit(0).cast("long")
    parts = []
    for j in range(m):
        parts.append(sub.select(F.lit(j).alias("sub"),
                                F.col(f"sub_{j}").alias("sq"), "vec_id")
                     .filter(F.aggregate("sq", zero,
                                         lambda acc, x: acc + x * x) > 0)
                     .withColumn("h", _md5_hash60(F.col("vec_id"))))
    longf = reduce(DataFrame.unionByName, parts)
    w = Window.partitionBy("sub").orderBy(F.asc("h"), F.asc("vec_id"))
    seed_rows = (longf.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= ksub)
                 .select("sub", "vec_id", "sq").collect())
    states: list[list[tuple[int, list[int], int, int]]] = []
    for j in range(m):
        mine = sorted((r for r in seed_rows if r["sub"] == j),
                      key=lambda r: r["vec_id"])
        if not mine:
            raise ValueError(f"pq_index: subspace {j} has no non-zero "
                             "subvectors to seed a codebook")
        states.append([(cid, [int(x) for x in r["sq"]], 1,
                        sum(int(x) * int(x) for x in r["sq"]))
                       for cid, r in enumerate(mine)])

    def assign(df: DataFrame) -> DataFrame:
        for j in range(m):
            cent, _ = _centroid_scores(
                F.col(f"sub_{j}"),
                [(cid, s, sn) for cid, s, _n, sn in states[j]])
            df = df.withColumn(f"code_{j}", cent)
        return df

    for _ in range(int(iters)):
        assigned = assign(sub)
        upd = []
        for j in range(m):
            upd.append(assigned.select(
                F.lit(j).alias("sub"), F.col(f"code_{j}").alias("code"),
                F.posexplode(f"sub_{j}").alias("dim", "val")))
        rows = (reduce(DataFrame.unionByName, upd)
                .groupBy("sub", "code", "dim")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect())
        by_key: dict[tuple[int, int], dict[int, int]] = {}
        cnt: dict[tuple[int, int], int] = {}
        for r in rows:
            key = (int(r["sub"]), int(r["code"]))
            by_key.setdefault(key, {})[int(r["dim"])] = int(r["s"])
            cnt[key] = int(r["n"])
        for j in range(m):
            new_state = []
            for cid, s_vec, n, sn in states[j]:
                dims = by_key.get((j, cid))
                if dims is None:  # emptied cluster keeps previous state
                    new_state.append((cid, s_vec, n, sn))
                    continue
                s = [dims.get(dd, 0) for dd in range(d)]
                n2 = sum(x * x for x in s)
                if n2 == 0:  # cancelled-out sum: keep previous (NaN guard)
                    new_state.append((cid, s_vec, n, sn))
                    continue
                new_state.append((cid, s, cnt[(j, cid)], n2))
            states[j] = new_state
    codes = assign(sub).select("vec_id", "norm2",
                               *[f"code_{j}" for j in range(m)])
    return codes, states


def pq_adc_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                m: int = 4, ksub: int = 4, iters: int = 2) -> DataFrame:
    """PQ ANN top-k by asymmetric distance computation (ADC — Jégou et
    al. 2011 §IV): the query stays full-precision; every candidate is
    scored from its m codes alone as
    ``adc_cosine = Σ_j dot(q_j, c_j) / (|q| · |v_recon|)`` with
    ``c_j = S_j / n_j`` the mean centroid the candidate's code names and
    ``|v_recon|² = Σ_j snorm2_j / n_j²`` the reconstruction norm.

    Returns (qid, rank, vec_id, adc_cosine), rank 1..k per query, ties to
    the smallest vec_id, self excluded.

    Scale shape — the reason PQ exists: the scan reads ONLY the codes
    table (m·log2(ksub) bits/vector). The per-query lookup tables
    dot(q_j, S_cid)/n — classic ADC LUTs — are built on the (tiny,
    broadcast) query side, so each candidate row does m array lookups
    plus a fixed float chain; no full vector is touched after indexing.
    Top-k per query is a partitioned-window row_number (per-partition
    heaps + a k-row shuffle).
    """
    from functools import reduce as _reduce
    from operator import add as _add

    codes, states = pq_index(embeddings, m=m, ksub=ksub, iters=iters)
    # subspace width straight from the codebook (every S_j vector has
    # it) — pq_index already paid the dim-inference job; re-running
    # _infer_dim here would be a second driver round-trip
    d = len(states[0][0][1])
    base = quantize(embeddings).select("vec_id", "q", "norm2")
    queries = (base.filter(F.col("vec_id").isin([int(x) for x in query_ids]))
               .select(F.col("vec_id").alias("qid"), F.col("q").alias("qq"),
                       F.col("norm2").alias("qnorm2")))
    zero = F.lit(0).cast("long")
    for j, state in enumerate(states):
        luts = []
        for _cid, s_vec, n, _sn in state:
            s_lit = F.array(*[F.lit(int(x)) for x in s_vec])
            dot = F.aggregate(
                F.zip_with(F.slice("qq", j * d + 1, d), s_lit,
                           lambda a, b: a * b),
                zero, lambda acc, x: acc + x)
            luts.append(dot.cast("double") / F.lit(float(n)))
        queries = queries.withColumn(f"lut_{j}", F.array(*luts))
    cand = codes.crossJoin(F.broadcast(queries)) \
        .filter(F.col("vec_id") != F.col("qid"))
    # zero-norm QUERY: undefined cosine, excluded (candidate side uses
    # codebook reconstruction norms, constants > 0 by construction)
    cand = cand.filter(F.col("qnorm2") > 0)
    dterms = [F.element_at(f"lut_{j}", (F.col(f"code_{j}") + 1).cast("int"))
              for j in range(m)]
    rterms = [F.element_at(
        F.array(*[F.lit(float(sn) / (n * n)) for _c, _s, n, sn in states[j]]),
        (F.col(f"code_{j}") + 1).cast("int")) for j in range(m)]
    adc = (_reduce(_add, dterms)
           / (F.sqrt(F.col("qnorm2").cast("double"))
              * F.sqrt(_reduce(_add, rterms)))).alias("adc_cosine")
    scored = cand.select("qid", "vec_id", adc)
    w = Window.partitionBy("qid").orderBy(F.desc("adc_cosine"),
                                          F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "adc_cosine"))


def cosine_topk_filtered(embeddings: DataFrame, docs: DataFrame,
                         predicate, query_ids: list[int],
                         k: int = 5) -> DataFrame:
    """PRE-filtered exact vector search — the filter+knn composition
    (public semantics: Lucene's KnnFloatVectorQuery acceptDocs / Solr 9's
    ``{!knn}`` with ``fq``): the attribute ``predicate`` (a Column over
    ``docs``) restricts the candidate pool BEFORE scoring, so every query
    gets its true top-k FROM THE FILTERED POOL — post-filtering a top-k
    list can silently return fewer than k, which is why engines implement
    the pre-filter form. Query vectors are looked up by id in the
    unfiltered table (the query need not satisfy its own filter).

    Returns (qid, rank, vec_id, cosine) like :func:`cosine_topk`.

    Scale shape: the predicate evaluates on the docs table and reaches
    the candidate side as a broadcastable left-semi join on vec_id (with
    a selective filter Catalyst prunes partitions/row-groups before any
    vector arithmetic); scoring and per-query top-k are then exactly
    :func:`cosine_topk`'s audited plan over the survivors.
    """
    allowed = docs.filter(predicate).select(
        F.col("doc_id").alias("vec_id"))
    base = quantize(embeddings).select("vec_id", "q", "norm2")
    queries = (base.filter(F.col("vec_id").isin([int(x) for x in query_ids]))
               .select(F.col("vec_id").alias("qid"), F.col("q").alias("qq"),
                       F.col("norm2").alias("qnorm2")))
    cand = base.join(allowed, "vec_id", "left_semi")
    pairs = cand.crossJoin(F.broadcast(queries)) \
        .filter(F.col("vec_id") != F.col("qid"))
    # zero-norm vectors: undefined cosine, excluded (see cosine_topk)
    pairs = pairs.filter((F.col("norm2") > 0) & (F.col("qnorm2") > 0))
    dot = F.aggregate(F.zip_with("qq", "q", lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = pairs.select(
        "qid", "vec_id",
        (dot / (F.sqrt(F.col("qnorm2").cast("double"))
                * F.sqrt(F.col("norm2").cast("double")))).alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "cosine"))


def hybrid_rrf_topk(index, query, embeddings: DataFrame, query_vec_id: int,
                    k: int = 10, k_lex: int = 20, k_vec: int = 20,
                    rrf_k: int = 60, mode: str = "f64") -> DataFrame:
    """Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion
    (public knowledge: Cormack, Clarke & Buettcher, "Reciprocal rank
    fusion outperforms Condorcet and individual rank learning methods",
    SIGIR 2009 — the fusion rule production hybrid-search stacks use to
    combine a BM25 list with an ANN list without score calibration).

    Two retrievers run independently:
      * lexical — the engine's BM25 top-``k_lex`` for ``query`` (the
        standard distributed two-phase top-k);
      * vector — exact integer-grid cosine top-``k_vec`` neighbors of
        the embedding row ``vec_id == query_vec_id`` (self excluded),
        i.e. :func:`cosine_topk`'s pinned math.
    A document's fused score is ``Σ_lists 1/(rrf_k + rank)`` over the
    lists that retrieved it (a list that missed it contributes 0 — the
    paper's convention). Ranks are the deterministic engine orders:
    (score desc, doc_id asc) and (cosine desc, vec_id asc). The sum is
    two exact double divisions added lexical-first, so any engine
    reproduces it bit-for-bit.

    Returns (rank, doc_id, rrf_score, lex_rank, vec_rank) — rank 1..k by
    (rrf_score desc, doc_id asc); lex_rank / vec_rank are NULL when that
    list did not retrieve the document.

    Plan shape: each list is its own already-scale-correct operator; the
    fusion joins two ≤(k_lex|k_vec)-row frames — every window below is
    over an operator-bounded (not data-proportional) set, so the
    partitionless row_numbers are constant-size by construction.
    """
    from sparklucene.search import search as _search

    lex = _search(index, query, k=int(k_lex), mode=mode)
    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lexr = (lex.withColumn("lex_rank", F.row_number().over(wl).cast("long"))
            .select("doc_id", "lex_rank"))
    vecr = (cosine_topk(embeddings, [int(query_vec_id)], k=int(k_vec))
            .select(F.col("vec_id").alias("doc_id"),
                    F.col("rank").alias("vec_rank")))
    fused = lexr.join(vecr, "doc_id", "full_outer")

    def _contrib(c: "F.Column") -> "F.Column":
        return F.when(c.isNotNull(),
                      F.lit(1.0) / (F.lit(float(rrf_k)) + c.cast("double"))
                      ).otherwise(F.lit(0.0))

    rrf = (_contrib(F.col("lex_rank"))
           + _contrib(F.col("vec_rank"))).alias("rrf_score")
    wr = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (fused.select("doc_id", rrf, "lex_rank", "vec_rank")
            .withColumn("rank", F.row_number().over(wr).cast("long"))
            .filter(F.col("rank") <= int(k))
            .select("rank", "doc_id", "rrf_score", "lex_rank", "vec_rank"))


def hybrid_linear_topk(index, query, embeddings: DataFrame,
                       query_vec_id: int, k: int = 10, k_lex: int = 20,
                       k_vec: int = 20, w_lex: float = 0.5,
                       w_vec: float = 0.5, mode: str = "f64") -> DataFrame:
    """Hybrid retrieval fused by min-max-normalized weighted sum — the
    other standard fusion rule next to RRF (public knowledge: score
    normalization for metasearch, e.g. Montague & Aslam CIKM 2001's
    "standard" normalization; production hybrid stacks expose it as
    normalized linear combination).

    Each list's scores are min-max normalized over ITS OWN retrieved
    set: ``n = (s - min) / (max - min)``, pinned to 1.0 when the list
    has a single distinct score (max == min). Fused score =
    ``w_lex * n_lex + w_vec * n_vec`` with a missing list contributing
    0; the expression's f64 operation order is pinned (subtract, divide,
    multiply, lexical + vector) so any engine reproduces it exactly.

    Returns (rank, doc_id, fused, lex_norm, vec_norm) — rank 1..k by
    (fused desc, doc_id asc); *_norm are NULL when that list missed the
    document.

    Plan shape: identical to :func:`hybrid_rrf_topk` — two audited
    retrievals, then arithmetic over two operator-bounded frames; each
    list's min/max is a 1-row aggregate broadcast back.
    """
    from sparklucene.search import search as _search

    lex = _search(index, query, k=int(k_lex), mode=mode) \
        .select("doc_id", F.col("score").cast("double").alias("s"))
    lexn = (lex.crossJoin(F.broadcast(
        lex.agg(F.min("s").alias("mn"), F.max("s").alias("mx"))))
        .select("doc_id",
                F.when(F.col("mx") == F.col("mn"), F.lit(1.0))
                .otherwise((F.col("s") - F.col("mn"))
                           / (F.col("mx") - F.col("mn")))
                .alias("lex_norm")))
    vec = (cosine_topk(embeddings, [int(query_vec_id)], k=int(k_vec))
           .select(F.col("vec_id").alias("doc_id"),
                   F.col("cosine").cast("double").alias("c")))
    vecn = (vec.crossJoin(F.broadcast(
        vec.agg(F.min("c").alias("mn"), F.max("c").alias("mx"))))
        .select("doc_id",
                F.when(F.col("mx") == F.col("mn"), F.lit(1.0))
                .otherwise((F.col("c") - F.col("mn"))
                           / (F.col("mx") - F.col("mn")))
                .alias("vec_norm")))
    fused = lexn.join(vecn, "doc_id", "full_outer")

    def _contrib(c: "F.Column", w: float) -> "F.Column":
        return F.when(c.isNotNull(), F.lit(float(w)) * c).otherwise(
            F.lit(0.0))

    score = (_contrib(F.col("lex_norm"), w_lex)
             + _contrib(F.col("vec_norm"), w_vec)).alias("fused")
    wr = Window.orderBy(F.desc("fused"), F.asc("doc_id"))
    return (fused.select("doc_id", score, "lex_norm", "vec_norm")
            .withColumn("rank", F.row_number().over(wr).cast("long"))
            .filter(F.col("rank") <= int(k))
            .select("rank", "doc_id", "fused", "lex_norm", "vec_norm"))


def cluster_results(index, query, embeddings: DataFrame, k_docs: int = 30,
                    n_clusters: int = 4, iters: int = 2,
                    mode: str = "f64") -> DataFrame:
    """Search-result clustering — Solr ClusteringComponent's user surface
    (u8:solr/contrib/clustering/.../CarrotClusteringEngine.java: cluster
    the top-N hits of a query into labeled groups). Carrot2's text
    algorithms are replaced by the engine's deterministic integer-grid
    spherical k-means (``ivf_index``) over the hits' embedding vectors —
    same pinned math as the IVF ANN family, so the SQL oracle mirrors it
    exactly.

    Returns (doc_id, score, cluster), cluster-major then score-ordered.

    Plan shape: one ordinary top-k search; the <= k winner ids broadcast
    into the embeddings scan (dynamic semi-join — nothing
    data-proportional ships); k-means runs on <= k_docs vectors with
    centroids as plan literals. Hits without an embedding row are dropped
    (documented contract).
    """
    from sparklucene.search import search as _search
    top = _search(index, query, k=k_docs, mode=mode)
    vecs = embeddings.join(
        F.broadcast(top.select(F.col("doc_id").alias("vec_id"))), "vec_id")
    assigned, _cents = ivf_index(vecs, n_centroids=n_clusters, iters=iters)
    return (top.join(assigned.select(F.col("vec_id").alias("doc_id"),
                                     F.col("centroid").alias("cluster")),
                     "doc_id")
            .orderBy(F.asc("cluster"), F.desc("score"), F.asc("doc_id"))
            .select("doc_id", "score", "cluster"))


def quantize_binary(df: DataFrame, dim: int,
                    col: str = "embedding") -> DataFrame:
    """1-bit sign quantization — the binary-hashing compression of the
    SimHash family (public knowledge: Charikar 2002 sign-random-
    projection, and the 'binary quantization' mode of modern vector
    stores): bit ``i`` of word ``j`` is set iff ``x[32j + i] > 0``.

    32 dims pack per BIGINT word (shifts stay < 32, so every word is
    positive in every engine — no sign-bit portability trap), 32×
    smaller than float32. Adds ``bvec array<bigint>``.

    Scale shape: pure narrow expressions — no shuffle, no UDF.
    """
    nwords = -(-dim // 32)
    words = []
    for j in range(nwords):
        seg = F.slice(F.col(col), j * 32 + 1, 32)
        # shiftleft() takes a Python int only; 2.0**i is exact in f64
        # for i < 32, so pow -> long is the same bit
        bits = F.transform(
            seg, lambda v, i: F.when(v.cast("double") > 0,
                                     F.pow(F.lit(2.0), i).cast("long"))
            .otherwise(F.lit(0).cast("long")))
        words.append(F.aggregate(bits, F.lit(0).cast("long"),
                                 lambda a, b: a.bitwiseOR(b)))
    return df.withColumn("bvec", F.array(*words))


def hamming_topk(df: DataFrame, query_vec_id: int, dim: int, k: int = 10,
                 id_col: str = "vec_id",
                 col: str = "embedding") -> DataFrame:
    """Binary-quantized nearest neighbours: Hamming distance between
    sign words (``sum_j popcount(bvec_j XOR query_j)``), ascending —
    the 32×-compressed coarse search binary quantization exists for.
    The query's words are plan literals (one bounded 1-row lookup, the
    same centroids-as-literals shape as IVF); candidates never touch a
    float. Returns (vec_id, hamming) — ties by vec_id, self excluded.
    """
    q = quantize_binary(df, dim, col=col)
    qrow = q.filter(F.col(id_col) == query_vec_id).select("bvec").collect()
    if not qrow:
        raise KeyError(f"query vector {query_vec_id} not found")
    qw = [int(w) for w in qrow[0]["bvec"]]
    dist = None
    for j, w in enumerate(qw):
        d = F.bit_count(F.col("bvec")[j].bitwiseXOR(F.lit(w)))
        dist = d if dist is None else dist + d
    return (q.filter(F.col(id_col) != query_vec_id)
            .select(id_col, dist.cast("long").alias("hamming"))
            .orderBy(F.asc("hamming"), F.asc(id_col))
            .limit(k))
