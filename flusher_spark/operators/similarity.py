"""Similarity search over embedding columns (ArrayType(FloatType)).

Four paths, as a 100 TB engine needs all of them:

- Brute-force cosine top-k (fold-left): broadcast the queries, scan the
  candidates once — exact and bit-deterministic (the oracle twin).
- Arrow/BLAS brute-force (brute_force_topk_arrow): the same scan with the
  dot products as one numpy matmul per Arrow batch — the throughput path
  for wide scans (pandas UDF; the one place vectorized Python beats the
  interpreted higher-order-function fold).
- Random-hyperplane LSH bucketing: 2^P signature buckets turn the quadratic
  problem into per-bucket equi-joins.
- IVF centroid lists (ivf_topk): partition vectors by nearest centroid,
  probe n_probe lists per query.

Fold-left dot products / norms (F.aggregate / F.zip_with) accumulate in
array order — deterministic and bit-identical to an explicitly
left-associated SQL fold, which is what the DuckDB oracles use.
"""

from __future__ import annotations

import math
import os
import random

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from flusher_spark.io import generations as G


def vec_norm_sq(col: Column) -> Column:
    """Sum of squares, double accumulation in array order (fold-left)."""
    return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))


def vec_dot(a: Column, b: Column) -> Column:
    """Dot product, double accumulation in array order (fold-left)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    # try_divide, not `/`: a zero-norm vector must yield NULL similarity
    # (sorts LAST under cosine_sim DESC, and callers can filter it) under
    # ANSI mode too — a bare division RAISES DIVIDE_BY_ZERO there, taking
    # the whole job down over one garbage embedding (r10 review). For
    # nonzero denominators try_divide is the same IEEE division bit for
    # bit, so oracle parity is untouched.
    return F.try_divide(vec_dot(a, b), F.sqrt(norm_a) * F.sqrt(norm_b))


def _safe_norms(m):
    """Row L2 norms with zeros replaced by 1, shaped for broadcasting.

    Dividing by a raw zero norm puts NaN similarities on zero-norm vectors,
    and Spark orders NaN ABOVE every double — so one all-zero embedding
    would take rank 1 for every query under ``cosine_sim DESC`` (r9
    review). With the guard a zero vector keeps similarity 0.0 everywhere:
    ranked like any orthogonal vector, never promoted. (The fold-left
    exact twin yields NULL there — ``cosine`` divides via try_divide, so
    ANSI mode returns NULL instead of raising — which sorts LAST; both
    conventions keep garbage out of the top-k.)"""
    import numpy as np

    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return n


def _rank_topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """ONE definition of the deterministic top-k epilogue every search path
    shares (r12 review: seven verbatim copies): rank by (cosine_sim DESC,
    id) per query, keep k, rank typed long."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", F.col("rank").cast("long").alias("rank"))
    )


def _explode_query_sims(scored: DataFrame, q_ids, id_col: str, id_type) -> DataFrame:
    """Shared epilogue of the Arrow paths: explode a per-row ``__sims``
    array (one sim per query, query order = ``q_ids``) into
    (query_id, id, cosine_sim) rows with self-matches dropped. query_id is
    CAST to the input id type: ``F.lit(python_int)`` is IntegerType, which
    silently broke the _topk_schema typing contract on the NON-empty side
    (int query_id un-unionable with the empty branch's long — r12
    review)."""
    q_id_arr = F.array(*[F.lit(i).cast(id_type) for i in q_ids])
    return (
        scored.select(
            id_col,
            F.explode(
                F.arrays_zip(q_id_arr.alias("query_id"), F.col("__sims").alias("cosine_sim"))
            ).alias("__z"),
        )
        .select(
            F.col("__z.query_id").alias("query_id"),
            F.col(id_col),
            F.col("__z.cosine_sim").alias("cosine_sim"),
        )
        .where(F.col(id_col) != F.col("query_id"))
    )


def _hash_sample(base: DataFrame, id_col: str, cols, n: int) -> list:
    """The deterministic hash-ordered training sample shared by the IVF
    seeder and the PQ trainer (r12 review: two copies that must stay
    bit-identical for the documented same-sample property): a distributed
    TakeOrdered by (pmod(hash(id), 7919), id) — one scan, no full sort,
    stable across runs and partitionings."""
    return (
        base.orderBy(F.pmod(F.hash(F.col(id_col)), F.lit(7919)), F.col(id_col))
        .limit(n)
        .select(*cols)
        .collect()
    )


def _topk_schema(df: DataFrame, id_col: str):
    """Result schema for the top-k functions' empty-query branches, with the
    id columns TYPED FROM THE INPUT — a hardcoded ``long`` made the empty
    branch un-unionable with real results for string-id tables."""
    from pyspark.sql import types as T

    idt = df.schema[id_col].dataType
    return T.StructType(
        [
            T.StructField("query_id", idt),
            T.StructField(id_col, idt),
            T.StructField("cosine_sim", T.DoubleType()),
            T.StructField("rank", T.LongType()),
        ]
    )


def brute_force_topk(
    df: DataFrame,
    query_ids,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query rows against one scan of the
    candidates. Output: (query_id, vec_id, cosine_sim) with a deterministic
    (sim DESC, vec_id) ranking."""
    base = df.select(F.col(id_col), F.col(vec_col), vec_norm_sq(F.col(vec_col)).alias("__nsq"))
    q = base.where(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col("__nsq").alias("__qnsq"),
    )
    pairs = base.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
    sim = cosine(F.col("__qvec"), F.col(vec_col), F.col("__qnsq"), F.col("__nsq"))
    return _rank_topk(pairs.select("query_id", id_col, sim.alias("cosine_sim")), id_col, k)


def neardup_cosine_exact(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine near-duplicates (exact baseline; O(n²) — correct at
    oracle scale, superseded by lsh_topk at 100 TB). Pairs with id_a < id_b."""
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), vec_norm_sq(F.col(vec_col)).alias("nsq")
    )
    a, b = base.alias("a"), base.alias("b")
    sim = cosine(F.col("a.v"), F.col("b.v"), F.col("a.nsq"), F.col("b.nsq"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), sim.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(v · plane_i); int bucket id."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec_col, plane_col, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long")))
    return sig


def lsh_topk(
    df: DataFrame,
    query_ids,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the query's LSH
    bucket (2^n_planes buckets), then exact re-ranking inside the bucket.
    The scale path: the candidate join is an equi-join on the signature, so
    cost is per-bucket, not all-pairs. Recall < 1 by construction (rows-only
    correctness check; the exact twin is brute_force_topk).

    ``dim`` must match the actual vector length and is validated against
    one row up front (a single narrow first() — negligible next to the
    scan). Without the check a mismatch is SILENT and quadratic: zip_with
    null-pads the shorter side, one null product makes every plane dot
    NULL, every signature collapses to 0, and the per-bucket equi-join
    becomes the one all-pairs join this function exists to avoid."""
    # Probe a NON-NULL row: F.size(NULL) is NULL, and a NULL embedding
    # happening to be the first row must not masquerade as a dimension
    # mismatch and refuse the whole job (r12 review) — NULL vectors degrade
    # gracefully downstream exactly as in brute_force_topk.
    row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("__d"))
        .first()
    )
    if row is not None and row["__d"] is not None and row["__d"] != dim:
        raise ValueError(
            f"lsh_topk: dim={dim} but '{vec_col}' vectors have {row['__d']} elements; "
            "a mismatch zeroes every signature and degrades to an all-pairs join"
        )
    planes = _hyperplanes(dim, n_planes, seed)
    base = df.select(
        F.col(id_col),
        F.col(vec_col),
        vec_norm_sq(F.col(vec_col)).alias("__nsq"),
        lsh_signature(F.col(vec_col), planes).alias("__sig"),
    )
    q = base.where(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col("__nsq").alias("__qnsq"),
        F.col("__sig").alias("__qsig"),
    )
    pairs = base.join(
        F.broadcast(q), (F.col("__sig") == F.col("__qsig")) & (F.col(id_col) != F.col("query_id"))
    )
    sim = cosine(F.col("__qvec"), F.col(vec_col), F.col("__qnsq"), F.col("__nsq"))
    return _rank_topk(pairs.select("query_id", id_col, sim.alias("cosine_sim")), id_col, k)


def _seed_centroids(
    base: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    sample_size: int = 1024,
) -> DataFrame:
    """k-means++-style seeding from a sample: greedy farthest-point (max-min
    cosine distance) over a hash-ordered sample of the data — the
    deterministic limit of k-means++'s D² sampling, so seeds spread across
    the data's modes instead of clumping wherever the lowest ids happen to
    sit (the old seeding, which collapsed lists when early ids were
    near-duplicates).

    Scale contract: driver state is ``sample_size × dim`` floats (bounded,
    like the centroid set itself); the sample is a distributed top-k by
    hashed id (TakeOrdered — one scan, no full sort), deterministic across
    runs and partitionings.

    Centroid ids are the seeding ranks 0..n_lists-1, NOT the sampled rows'
    ids: list identity is internal, and deriving it from ``id_col`` made
    every IVF path crash on non-integer id columns the rest of the module
    accepts (r9 review)."""
    return _centroid_frame(
        base.sparkSession,
        _seed_centroid_rows(base, id_col, vec_col, n_lists, sample_size),
    )


def _seed_centroid_rows(
    base: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    sample_size: int = 1024,
) -> list[tuple[int, list[float]]]:
    """_seed_centroids' driver-side half: the (rank, vector) seed list. Kept
    separate so the Lloyd loop (_ivf_assign) can carry centroids as plain
    Python across iterations instead of collect()ing back a DataFrame it
    built from driver rows in the first place (r12 review)."""
    import numpy as np

    # NULL embeddings can't train anything and would crash the driver-side
    # np.array below (r14 review) — the module's NULL policy is pass-through
    # at query/dedup time, exclusion at train/index time.
    sample = _hash_sample(
        base.where(F.col(vec_col).isNotNull()), id_col, (id_col, vec_col), sample_size
    )
    if not sample:
        raise ValueError("cannot seed IVF centroids from an empty input DataFrame")
    V = np.array([list(r[vec_col]) for r in sample], dtype=np.float64)
    # Zero-norm rows (garbage embeddings) are dropped from the SAMPLE before
    # seeding (r12 review): a zero row's cosine to every chosen seed stays
    # <= 0, making it a permanent argmin attractor that the farthest-point
    # loop would re-pick for EVERY remaining centroid — collapsing the
    # index to one real list and the per-list joins to all-pairs. (An
    # all-zero sample keeps its rows: nothing sensible to seed from, but
    # the loop still terminates thanks to the +inf marking below.)
    nz = np.linalg.norm(V, axis=1) > 0
    if nz.any():
        V = V[nz]
    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0] = 1.0
    U = V / norms[:, None]
    chosen = [0]
    best_sim = U @ U[0]  # cosine to the nearest chosen seed, per sample row
    best_sim[0] = np.inf  # chosen rows can never be re-picked (r12 review)
    while len(chosen) < min(n_lists, len(V)):
        nxt = int(np.argmin(best_sim))  # farthest point; ties → first (stable)
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, U @ U[nxt])
        best_sim[nxt] = np.inf
    return [(rank, [float(x) for x in V[i]]) for rank, i in enumerate(chosen)]


def _centroid_frame(spark: SparkSession, rows: list) -> DataFrame:
    """(__cid, __cvec, __cnsq) centroid DataFrame from driver-side rows."""
    return spark.createDataFrame(rows, "__cid long, __cvec array<double>").select(
        "__cid", "__cvec", vec_norm_sq(F.col("__cvec")).alias("__cnsq")
    )


def _nearest_lists(
    side: DataFrame,
    cents: DataFrame,
    keep: int,
    out: str,
    id_col: str,
    vec_col: str,
    rank_col: str | None = None,
) -> DataFrame:
    """Attach the ``keep`` nearest centroid ids to each row of ``side``
    (which must carry a ``__nsq`` norm column): broadcast the tiny centroid
    set, one argmax window per row — a single parallel scan. ``rank_col``
    optionally keeps the 1-based nearness rank, so a caller needing BOTH
    the multi-probe assignment and the single-nearest one (the streaming
    semantic sink) can derive the latter as ``rank == 1`` instead of
    running a second assignment job."""
    sim = cosine(F.col(vec_col), F.col("__cvec"), F.col("__nsq"), F.col("__cnsq"))
    w = Window.partitionBy(id_col).orderBy(F.col("__csim").desc(), F.col("__cid"))
    ranked = (
        side.crossJoin(F.broadcast(cents))
        .withColumn("__csim", sim)
        .withColumn("__crank", F.row_number().over(w))
        .where(F.col("__crank") <= keep)
        .withColumnRenamed("__cid", out)
    )
    if rank_col is not None:
        ranked = ranked.withColumnRenamed("__crank", rank_col)
        return ranked.drop("__cvec", "__cnsq", "__csim")
    return ranked.drop("__cvec", "__cnsq", "__csim", "__crank")


def ivf_topk(
    df: DataFrame,
    query_ids,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    n_iter: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other standard ANN scale
    path next to lsh_topk.

    Index build: seed ``n_lists`` centroids k-means++-style from a sample
    (``_seed_centroids`` — farthest-point over a hash-ordered sample),
    optionally refine them with ``n_iter`` Lloyd iterations (assign →
    per-list mean → reassign; the per-list means are a distributed
    posexplode+avg aggregation whose n_lists×dim result is driver-sized by
    construction — k-means centroids are always tiny), then assign every
    vector to its nearest centroid by cosine. Each assignment is a broadcast
    join against the tiny centroid set + one argmax window — a single
    parallel scan per iteration.

    Search: each query probes its ``n_probe`` nearest centroid lists and
    re-ranks exactly inside them — an equi-join on the list id, so cost is
    |probed lists| / |lists| of a full scan, not all-pairs. Recall < 1 by
    construction (rows-only check; exact twin: brute_force_topk).

    Training and assignment are ``_ivf_assign`` — the single shared
    implementation the persisted-index build and SemDeDup also call, so
    the Lloyd arithmetic cannot drift between the fused and persisted
    paths (r9 review folded an inlined duplicate of it back in here).
    """
    # index half: every vector in exactly one list
    cents, assigned = _ivf_assign(df, id_col, vec_col, n_lists, n_iter)
    qbase = df.where(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col), F.col(vec_col), vec_norm_sq(F.col(vec_col)).alias("__nsq")
    )
    probes = _nearest_lists(qbase, cents, n_probe, "__list", id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col("__nsq").alias("__qnsq"),
        "__list",
    )
    pairs = assigned.join(F.broadcast(probes), "__list").where(F.col(id_col) != F.col("query_id"))
    sim = cosine(F.col("__qvec"), F.col(vec_col), F.col("__qnsq"), F.col("__nsq"))
    # Each vector lives in exactly one list, so (query, vector) pairs are
    # already unique — no dedup shuffle needed.
    return _rank_topk(pairs.select("query_id", id_col, sim.alias("cosine_sim")), id_col, k)


def brute_force_topk_arrow(
    df: DataFrame,
    query_ids,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via an Arrow-vectorized pandas UDF — the
    throughput path for wide scans.

    The fold-left ``aggregate``/``zip_with`` cosine (brute_force_topk) is
    bit-deterministic (it's the oracle twin) but, being a higher-order
    function, evaluates interpreted per element. Here each Arrow batch of
    candidate vectors becomes one numpy matrix and ALL query similarities are
    a single BLAS matmul — per-batch Python overhead amortized to ~zero.
    Scores differ from the fold-left version only in float summation order
    (≤1e-12 relative); ranking ties can therefore break differently, which is
    why the oracle-checked entry stays on the deterministic twin.

    The query set is collected and closed over (it is small by contract);
    candidates stream batch-at-a-time — nothing driver-side scales with |df|.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    q_rows = (
        # NULL-embedding queries dropped (r14 review): they would crash the
        # driver-side np.array, and can never produce a real match — the
        # exact twin carries them only as all-NULL-sim rows.
        df.where(F.col(id_col).isin(list(query_ids)) & F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .collect()
    )
    q_ids = [r[id_col] for r in q_rows]
    if not q_ids:  # no query vectors found → empty result, not an AxisError
        return df.sparkSession.createDataFrame([], _topk_schema(df, id_col))
    qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    qm /= _safe_norms(qm)
    dim = qm.shape[1]

    @pandas_udf("array<double>")
    def sims(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        # NULL/ragged candidate rows score NULL against every query (the
        # exact twin's NULL-cosine behavior — they rank last, never crash
        # the batch; r14 review). The valid block stays one BLAS call.
        lst = vecs.tolist()
        valid = [i for i, v in enumerate(lst) if v is not None and len(v) == dim]
        out: list = [[None] * len(q_ids)] * len(lst)
        if valid:
            m = np.array([lst[i] for i in valid], dtype=np.float64)
            m /= _safe_norms(m)
            s = m @ qm.T  # (valid × queries), one BLAS call
            for j, i in enumerate(valid):
                out[i] = [float(x) for x in s[j]]
        return pd.Series(out)

    scored = _explode_query_sims(
        df.select(F.col(id_col), sims(F.col(vec_col)).alias("__sims")),
        q_ids,
        id_col,
        df.schema[id_col].dataType,
    )
    return _rank_topk(scored, id_col, k)


def mmr_rerank(
    df: DataFrame,
    query_ids,
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein 1998)
    — the diversity-aware top-k every RAG retriever bolts onto plain
    cosine: greedily pick k results where each pick maximizes
    ``lam·relevance − (1−lam)·max_similarity_to_already_picked``, so the
    result set trades pure relevance for coverage (near-duplicate hits
    stop crowding out distinct ones). The first pick is the most relevant
    candidate outright; ties at any step break to the smallest id —
    deterministic by construction.

    Two stages, both distributed: candidate generation is the exact
    cosine top-``pool`` (:func:`brute_force_topk` — swap in the IVF/LSH
    paths at scale, the contract downstream only needs (query_id, id,
    relevance, vector)); selection is ``applyInPandas`` grouped by
    query_id — each group is one bounded pool (≤ ``pool`` rows × the
    embedding width), the greedy loop is O(k·pool) numpy per group, and
    NOTHING is collected to the driver: a million queries means a million
    independent pandas groups. Returns (query_id, mmr_rank, <id_col>,
    relevance, mmr_score) with the id columns typed from the input
    (the _topk_schema discipline — no hardcoded long).

    Greedy MMR is order-sequential, so it has no SQL twin — the catalog
    entry is rows-only; selection-order correctness is pinned in pytest
    against an independent per-step reference."""
    from pyspark.sql import types as T

    cands = brute_force_topk(df, query_ids, k=pool, id_col=id_col, vec_col=vec_col)
    # A zero-norm candidate has NULL cosine_sim (x/0.0 under non-ANSI);
    # NULLs sort last but still take ranks, so with a small table they can
    # reach the pool — and a NULL relevance becomes NaN in pandas, where
    # np.argmax(NaN) would hand the garbage vector rank 1 (the exact
    # mis-ranking _safe_norms exists to prevent). Drop them here.
    cands = cands.where(F.col("cosine_sim").isNotNull())
    cands = cands.join(
        df.select(F.col(id_col), F.col(vec_col).alias("__vec")), id_col
    ).select(
        "query_id",
        F.col(id_col).alias("__cid"),
        F.col("cosine_sim").alias("__rel"),
        "__vec",
    )

    idt = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", idt),
            T.StructField("mmr_rank", T.LongType()),
            T.StructField(id_col, idt),
            T.StructField("relevance", T.DoubleType()),
            T.StructField("mmr_score", T.DoubleType()),
        ]
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # Candidate order pinned by id so every argmax's first-max IS the
        # smallest-id tie-break, independent of shuffle arrival order.
        pdf = pdf.sort_values("__cid").reset_index(drop=True)
        rel = pdf["__rel"].to_numpy(dtype=np.float64)
        V = np.array(pdf["__vec"].tolist(), dtype=np.float64)
        V /= _safe_norms(V)
        n = len(pdf)
        # max cosine to any already-picked result; -inf (not 0) so a
        # candidate whose similarity to everything selected is NEGATIVE
        # keeps its full diversity credit — a zero floor silently clamps
        # anti-correlated candidates to "neutral" and mis-ranks them.
        max_sim = np.full(n, -np.inf)
        alive = np.ones(n, dtype=bool)
        sel_idx: list[int] = []
        scores: list[float] = []
        for _ in range(min(k, n)):
            # First pick: standard MMR treats the empty-set max-sim as 0,
            # so the score is lam*rel — same argmax as raw relevance, but
            # the RECORDED score stays on one scale across ranks (a raw-rel
            # first score was inflated 1/lam vs every later rank, breaking
            # any consumer thresholding on mmr_score — r12 review).
            score = lam * rel if not sel_idx else lam * rel - (1.0 - lam) * max_sim
            masked = np.where(alive, score, -np.inf)
            j = int(np.argmax(masked))  # first max = smallest id (sorted)
            alive[j] = False
            sel_idx.append(j)
            scores.append(float(masked[j]))
            max_sim = np.maximum(max_sim, V @ V[j])
        # Id columns pass through with their native pandas dtype — no
        # int() coercion, so string/any-typed ids survive (id_col contract).
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[sel_idx].reset_index(drop=True),
                "mmr_rank": pd.Series(range(1, len(sel_idx) + 1), dtype="int64"),
                id_col: pdf["__cid"].iloc[sel_idx].reset_index(drop=True),
                "relevance": pd.Series(rel[sel_idx]),
                "mmr_score": pd.Series(scores, dtype="float64"),
            }
        )

    return cands.groupBy("query_id").applyInPandas(pick, out_schema)


def _train_pq_codebooks(
    base: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    ksub: int,
    sample_size: int = 1024,
    n_iter: int = 5,
):
    """Train product-quantization codebooks on a bounded sample.

    PQ training is sample-based by design (FAISS trains on a slice, not the
    index): driver state is ``sample_size × dim`` floats plus the
    ``m × ksub × dim/m`` codebooks — both bounded regardless of |df|. The
    sample is the same deterministic hash-ordered TakeOrdered used by
    ``_seed_centroids``; per-subspace k-means runs in numpy with
    farthest-point seeding and ``n_iter`` Lloyd steps, all deterministic
    (no RNG), so the index is reproducible across runs and partitionings.

    Returns a numpy array of shape (m, ksub, dsub).
    """
    import numpy as np

    # NULL embeddings excluded from the sample — the _seed_centroid_rows
    # discipline (a NULL row crashed the np.array below, r14 review).
    sample = _hash_sample(
        base.where(F.col(vec_col).isNotNull()), id_col, (vec_col,), sample_size
    )
    if not sample:
        raise ValueError("cannot train PQ codebooks on an empty input DataFrame")
    V = np.array([list(r[vec_col]) for r in sample], dtype=np.float64)
    n, dim = V.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    k = min(ksub, n)
    books = np.empty((m, k, dsub))
    # The m subspace trainings are independent, deterministic, and pure
    # numpy — at m=16/ksub=256 they were the single largest headline cost
    # (profiled ~1.3 s per call, re-run warmup+3× per bench), all of it on
    # ONE driver core while the cluster idled. Fan them out as ONE tiny
    # Spark job (guide §2.6 — overlap independent work on the cluster's
    # idle capacity): each subspace is its own partition, so the session's
    # scheduler sizes the fan-out to the core budget and retries/respawns
    # sick workers — unlike the r14 fork ProcessPoolExecutor this replaces,
    # which forked a py4j/BLAS-threaded driver (fork-after-threads children
    # can HANG, which no except-clause catches; the r14 driver window read
    # this entry at 21.4 s under load) and sized itself off os.cpu_count()
    # rather than the session. Per-subspace arithmetic is unchanged, so on
    # a single-host deployment (local master: executors share the driver's
    # numpy/BLAS) the codebooks are bit-identical to the serial loop
    # (asserted in tests/test_operators.py). On a multi-host cluster an
    # executor's numpy/BLAS build may differ from the driver's, so the
    # codebooks may differ in the last bits between the two paths; collect()
    # preserves partition order = subspace order. The payload is bounded
    # (sample_size × dsub doubles per task, ~32 KB at the defaults). Any
    # job failure (no executors, pickling quirk) falls back to the same
    # serial computation.
    subs = [(V[:, j * dsub : (j + 1) * dsub].copy(), k, n_iter) for j in range(m)]
    trained = None
    if m > 1:
        try:
            sc = base.sparkSession.sparkContext
            trained = sc.parallelize(subs, m).map(_train_pq_subspace).collect()
        except Exception:
            trained = None
    if trained is None or len(trained) != m:
        trained = [_train_pq_subspace(s) for s in subs]
    for j in range(m):
        books[j] = trained[j]
    return books


def _train_pq_subspace(args):
    """Seed + Lloyd for ONE subspace — module-level so the fork pool in
    ``_train_pq_codebooks`` can ship it. Arithmetic is the exact serial
    original: farthest-point seeding, then per-iteration L2 assignment and
    per-cluster means. The mean pass groups clusters by member COUNT and
    batches one ``mean(axis=1)`` per distinct count over stably-ordered
    member blocks — same member rows in the same order per cluster, so the
    reduction is bit-identical to the per-cluster ``members.mean(axis=0)``
    loop it replaces (asserted in tests), without 20k boolean-mask
    allocations per training."""
    import numpy as np

    X, k, n_iter = args
    # Farthest-point seeding (deterministic k-means++ limit).
    chosen = [0]
    d2 = ((X - X[0]) ** 2).sum(axis=1)
    while len(chosen) < k:
        nxt = int(np.argmax(d2))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    C = X[chosen].copy()
    for _ in range(n_iter):
        # Assign to nearest centroid (L2), recompute means.
        dist = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = dist.argmin(axis=1)
        order = np.argsort(assign, kind="stable")
        counts = np.bincount(assign, minlength=k)
        Xo = X[order]
        nonempty = np.flatnonzero(counts)
        starts = np.concatenate(([0], np.cumsum(counts)))
        cnt_of = counts[nonempty]
        for cnt in np.unique(cnt_of):
            cids = nonempty[cnt_of == cnt]
            blocks = np.stack([Xo[starts[c] : starts[c] + cnt] for c in cids])
            C[cids] = blocks.mean(axis=1)
    return C


def pq_topk(
    df: DataFrame,
    query_ids,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
) -> DataFrame:
    """Product-quantization approximate cosine top-k — the codebook
    COMPRESSION scale path next to lsh_topk (bucketing) and ivf_topk
    (partitioning). At 100 TB the win is memory: each vector stores as m
    small codes (here 8 codes ≤ 1 byte each vs 64 floats = 32× smaller), so
    the scan that scores candidates reads codes, not vectors.

    Index: train codebooks on a bounded sample (``_train_pq_codebooks``)
    and broadcast them (m×ksub×dsub doubles — tiny). Encoding (per
    subspace, argmin L2 to the codebook rows) and scoring FUSE into one
    Arrow-batched pandas UDF here because this entry doesn't persist the
    index: one narrow scan, no shuffle, a single numpy distance computation
    per batch. A production index would store the (id, codes) table —
    32× smaller than the vectors — and run only the lookup half per query.

    Search (ADC — asymmetric distance): queries stay exact; each query
    precomputes a distance table T[q][j][c] = q_j · codebook[j][c] so a
    candidate's approximate dot is ``sum_j T[q][j][code_j]`` — numpy fancy
    indexing per batch, no per-row Python. Cosine denominator uses the
    reconstructed candidate norm ``sum_j ||codebook[j][code_j]||²`` (the
    standard ADC norm estimate). Approximate by construction → rows-only
    entry; recall vs the exact twin asserted in tests/test_operators.py."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    books = _train_pq_codebooks(df.select(id_col, vec_col), id_col, vec_col, m, ksub)
    dsub = books.shape[2]

    # NULL-embedding queries dropped — the brute_force_topk_arrow discipline.
    q_rows = (
        df.where(F.col(id_col).isin(list(query_ids)) & F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .collect()
    )
    if not q_rows:
        return df.sparkSession.createDataFrame([], _topk_schema(df, id_col))
    q_ids = [r[id_col] for r in q_rows]
    qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    qm /= _safe_norms(qm)
    dim = m * dsub
    # T[q, j, c] = dot(query q's subvector j, codebook[j][c]); cnorm[j, c] =
    # ||codebook[j][c]||² — together they score any code row without touching
    # the original vector.
    T = np.einsum("qjd,jcd->qjc", qm.reshape(len(q_ids), m, dsub), books)
    cnorm2 = (books**2).sum(axis=2)  # (m, ksub)

    @pandas_udf("array<double>")
    def adc_sims(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        # NULL/ragged rows score NULL (rank-last, never crash — r14 review).
        lst = vecs.tolist()
        valid = [i for i, v in enumerate(lst) if v is not None and len(v) == dim]
        out: list = [[None] * len(q_ids)] * len(lst)
        if valid:
            X = np.array([lst[i] for i in valid], dtype=np.float64).reshape(
                len(valid), m, dsub
            )
            # Encode: per subspace argmin L2 to the codebook rows.
            # dist (n, m, ksub) = ||x||² - 2 x·c + ||c||²; ||x||² is rank-constant.
            cross = np.einsum("njd,jcd->njc", X, books)
            codes = (cnorm2[None, :, :] - 2.0 * cross).argmin(axis=2)  # (n, m)
            jj = np.arange(m)[None, :]
            approx_dot = T[:, jj, codes].sum(axis=2)  # (queries, n)
            approx_norm = np.sqrt(cnorm2[jj, codes].sum(axis=1))  # (n,)
            approx_norm[approx_norm == 0] = 1.0
            sims = (approx_dot / approx_norm[None, :]).T  # (n, queries)
            for j, i in enumerate(valid):
                out[i] = [float(x) for x in sims[j]]
        return pd.Series(out)

    scored = _explode_query_sims(
        df.select(F.col(id_col), adc_sims(F.col(vec_col)).alias("__sims")),
        q_ids,
        id_col,
        df.schema[id_col].dataType,
    )
    return _rank_topk(scored, id_col, k)


# -- Persisted indexes --------------------------------------------------------
#
# pq_topk / ivf_topk fuse train+encode+score into one job — right for a
# one-shot query, wrong for production: at 100 TB the index is built ONCE and
# every query reads the stored artifact. The build/query split below is that
# production half. Layout on the lake:
#
#   <path>/codebooks   (PQ)  m×ksub rows (j, c, centroid) — KBs, read+broadcast
#   <path>/codes       (PQ)  (id, codes array) — m small ints per vector,
#                            ~32× smaller than the float vectors it replaces
#   <path>/centroids   (IVF) n_lists rows (__cid, __cvec) — KBs
#   <path>/vectors     (IVF) (id, vec, __nsq) PARTITIONED BY __list, so a
#                            query probing p of L lists prunes L-p partitions
#                            at the parquet layer (no scan, no filter eval)
#
# The query functions take ONLY (spark, path, query_df) — structurally unable
# to retrain or rescan the base table (asserted in tests by making training
# raise after build).


def _index_tombstones(spark: SparkSession, path: str, gen: int) -> DataFrame | None:
    """The current generation's deleted-id table (one ``doc_id``-style id
    column named ``__dead``), or None when no deletes were recorded.
    Generation-scoped like the dedup indexes (io/generations.py): the
    pointer flip that publishes a compacted/rebuilt generation atomically
    retires the old generation's tombstones with it."""
    tpath = G.gen_dir(path, "tombstones", gen)
    if not os.path.isdir(tpath):
        return None
    return spark.read.parquet(tpath)


def _subtract_tombstones(
    spark: SparkSession, path: str, gen: int, df: DataFrame, id_col: str
) -> DataFrame:
    tomb = _index_tombstones(spark, path, gen)
    if tomb is None:
        return df
    return df.join(
        F.broadcast(tomb.select(F.col("__dead").alias(id_col))), id_col, "left_anti"
    )


def _index_delete(spark: SparkSession, path: str, ids: DataFrame, id_col: str) -> int:
    """Shared delete half of the IVF/PQ lifecycle: tombstone ids out of a
    persisted vector/code index (opt-out / takedown — the dedup-index
    discipline applied to the ANN family). Queries subtract tombstones
    immediately; the matching compact reclaims the space. Returns the
    number of ids tombstoned."""
    gen = G.current_gen(path)
    dead = (
        ids.select(F.col(id_col).alias("__dead"))
        .distinct()
        .localCheckpoint(eager=True)  # consumed by count + write
    )
    n = dead.count()
    if n:
        dead.write.mode("append").parquet(G.gen_dir(path, "tombstones", gen))
    return n


def ivf_delete_index(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str = "vec_id"
) -> int:
    """Tombstone vectors out of a persisted IVF index: a deleted vector
    stops appearing in any query's top-k IMMEDIATELY (the probe subtracts
    tombstones from the pruned list partitions before ranking);
    ``ivf_compact_index`` physically removes the rows later."""
    return _index_delete(spark, path, ids, id_col)


def ivf_compact_index(spark: SparkSession, path: str, id_col: str = "vec_id") -> int:
    """Physically drop tombstoned vectors by rewriting the live rows into a
    NEW GENERATION of the ``vectors`` table behind the fsync'd pointer flip
    (io/generations.py — same crash story as the dedup-index compacts:
    torn new generations are reclaimed by the next compact's sweep, the
    flip retires the old generation's tombstones). Centroids are training
    artifacts, untouched. Returns the new generation number."""
    gen = G.current_gen(path)
    for tbl in ("vectors", "centroids", "tombstones"):
        G.drop_stale_gens(path, tbl, gen)
    live = _subtract_tombstones(
        spark, path, gen, spark.read.parquet(G.gen_dir(path, "vectors", gen)), id_col
    )
    # Collapse IDENTICAL rows (all columns): a retried streaming micro-batch
    # (streaming/dedup_stream.py::semantic_stream_sink) appends its survivor
    # vectors twice — self-excluded for that batch, existence-safe for later
    # probes — and they must not survive every compact forever (the
    # fingerprint_index_compact discipline, r12 ADVICE). Distinct src_batch
    # tags stay distinct rows.
    live = live.dropDuplicates()
    G.write_table(live, G.gen_dir(path, "vectors", gen + 1), "__list")
    # The pointer is index-wide, so the (KB-sized) centroid table rides
    # along into the new generation — every table of a generation must
    # exist the moment the flip lands.
    spark.read.parquet(G.gen_dir(path, "centroids", gen)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(G.gen_dir(path, "centroids", gen + 1))
    G.set_gen(path, gen + 1)
    for tbl in ("vectors", "centroids", "tombstones"):
        G.drop_stale_gens(path, tbl, gen + 1)
    return gen + 1


def pq_delete_index(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str = "vec_id"
) -> int:
    """Tombstone vectors out of a persisted PQ index (codes-table twin of
    ``ivf_delete_index``): deleted ids stop scoring immediately;
    ``pq_compact_index`` reclaims the rows."""
    return _index_delete(spark, path, ids, id_col)


def pq_compact_index(spark: SparkSession, path: str, id_col: str = "vec_id") -> int:
    """Rewrite the live ``codes`` rows into a new generation behind the
    pointer flip; codebooks are training artifacts, untouched. Returns the
    new generation number."""
    gen = G.current_gen(path)
    for tbl in ("codes", "codebooks", "tombstones"):
        G.drop_stale_gens(path, tbl, gen)
    live = _subtract_tombstones(
        spark, path, gen, spark.read.parquet(G.gen_dir(path, "codes", gen)), id_col
    )
    G.write_table(live, G.gen_dir(path, "codes", gen + 1), None)
    # index-wide pointer: the KB-sized codebooks ride along (see
    # ivf_compact_index).
    spark.read.parquet(G.gen_dir(path, "codebooks", gen)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(G.gen_dir(path, "codebooks", gen + 1))
    G.set_gen(path, gen + 1)
    for tbl in ("codes", "codebooks", "tombstones"):
        G.drop_stale_gens(path, tbl, gen + 1)
    return gen + 1


def pq_build_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
) -> str:
    """Build a product-quantization index: train codebooks on a bounded
    sample (deterministic — see _train_pq_codebooks), encode every vector to
    its m per-subspace codes in one Arrow-batched scan (no shuffle), and
    persist codes + codebooks. Returns ``path``."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    books = _train_pq_codebooks(df.select(id_col, vec_col), id_col, vec_col, m, ksub)
    mm, kk, dsub = books.shape
    cnorm2 = (books**2).sum(axis=2)

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        X = np.array(vecs.tolist(), dtype=np.float64).reshape(len(vecs), mm, dsub)
        # argmin_c ||x - c||² == argmin_c (||c||² - 2 x·c); ||x||² is constant.
        cross = np.einsum("njd,jcd->njc", X, books)
        codes = (cnorm2[None, :, :] - 2.0 * cross).argmin(axis=2)
        return pd.Series([[int(c) for c in row] for row in codes])

    rebuild, new_gen = G.next_build_gen(path, "codes")
    # NULL embeddings stay out of the codes table (the ivf_append_index /
    # streaming-sink policy): an un-encodable row would otherwise crash the
    # Arrow batch (r14 review).
    df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), encode(F.col(vec_col)).alias("codes")
    ).write.mode("overwrite").parquet(G.gen_dir(path, "codes", new_gen))
    rows = [
        (j, c, [float(x) for x in books[j][c]]) for j in range(mm) for c in range(kk)
    ]
    df.sparkSession.createDataFrame(
        rows, "j int, c int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(G.gen_dir(path, "codebooks", new_gen))
    # A REBUILD over a live path lands in a new generation and flips the
    # pointer (io/generations.py): the old life — data AND its
    # generation-scoped tombstones — stays intact and in scope until one
    # atomic flip.
    G.publish_build(path, new_gen, rebuild, ("codes", "codebooks"), "tombstones")
    return path


def pq_query_index(
    spark: SparkSession,
    path: str,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k against a PERSISTED PQ index: rebuild the codebooks from
    the stored table (bounded collect), precompute each query's distance
    table, and score the stored codes in one Arrow-batched scan — no
    training, no original-vector access. Exact queries vs quantized
    candidates, identical arithmetic to pq_topk's scoring half."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    gen = G.current_gen(path)
    cb = spark.read.parquet(G.gen_dir(path, "codebooks", gen)).collect()
    mm = 1 + max(r["j"] for r in cb)
    kk = 1 + max(r["c"] for r in cb)
    dsub = len(cb[0]["centroid"])
    books = np.zeros((mm, kk, dsub))
    for r in cb:
        books[r["j"]][r["c"]] = r["centroid"]
    cnorm2 = (books**2).sum(axis=2)

    q_rows = query_df.select(id_col, vec_col).collect()
    if not q_rows:
        return spark.createDataFrame([], _topk_schema(query_df, id_col))
    q_ids = [r[id_col] for r in q_rows]
    qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    qm /= _safe_norms(qm)
    T = np.einsum("qjd,jcd->qjc", qm.reshape(len(q_ids), mm, dsub), books)

    @pandas_udf("array<double>")
    def adc(codes_s: pd.Series) -> pd.Series:
        if not len(codes_s):
            return pd.Series([], dtype=object)
        codes = np.array(codes_s.tolist(), dtype=np.int64)  # (n, m)
        jj = np.arange(mm)[None, :]
        approx_dot = T[:, jj, codes].sum(axis=2)  # (queries, n)
        approx_norm = np.sqrt(cnorm2[jj, codes].sum(axis=1))  # (n,)
        approx_norm[approx_norm == 0] = 1.0
        sims = (approx_dot / approx_norm[None, :]).T  # (n, queries)
        return pd.Series(list(sims))

    codes_live = _subtract_tombstones(
        spark, path, gen, spark.read.parquet(G.gen_dir(path, "codes", gen)), id_col
    )
    scored = _explode_query_sims(
        codes_live.select(F.col(id_col), adc(F.col("codes")).alias("__sims")),
        q_ids,
        id_col,
        query_df.schema[id_col].dataType,
    )
    return _rank_topk(scored, id_col, k)


def ivf_build_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_iter: int = 0,
) -> str:
    """Build an IVF index: train centroids exactly as ivf_topk does (seed +
    optional Lloyd steps), assign every vector to its nearest list, and
    persist vectors PARTITIONED BY list id — the layout that turns n_probe
    into parquet partition pruning at query time. Returns ``path``."""
    assigned = _ivf_assign(df, id_col, vec_col, n_lists, n_iter)
    cents, vectors = assigned
    rebuild, new_gen = G.next_build_gen(path, "vectors")
    if rebuild:
        # Rebuilding a STREAM-initialized index (rows carry the src_batch
        # tag) must keep the column in the new generation with the batch
        # appends' NULL backfill — dropping it set up the mixed-parquet-
        # schema hazard the append guard exists to prevent: the sink's next
        # tagged append would make a non-mergeSchema read resolve a
        # columnless footer and crash the stream nondeterministically
        # (r14 review; this is the maintenance rebuild ivf_append_index's
        # own docstring recommends).
        old = G.gen_dir(path, "vectors", G.current_gen(path))
        if os.path.isdir(old) and "src_batch" in df.sparkSession.read.parquet(old).columns:
            vectors = vectors.withColumn(
                "src_batch", F.lit(None).cast("string")
            ).select(id_col, vec_col, "__nsq", "src_batch", "__list")
    vectors.write.mode("overwrite").partitionBy("__list").parquet(
        G.gen_dir(path, "vectors", new_gen)
    )
    cents.select("__cid", "__cvec").coalesce(1).write.mode("overwrite").parquet(
        G.gen_dir(path, "centroids", new_gen)
    )
    # Rebuild lifecycle: new generation + atomic flip (io/generations.py) —
    # centroids and vectors cut over TOGETHER, so a crash mid-rebuild never
    # pairs new centroids with old list assignments.
    G.publish_build(path, new_gen, rebuild, ("vectors", "centroids"), "tombstones")
    return path


def _ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, n_lists: int, n_iter: int, keep: int = 1
):
    """Shared IVF training+assignment: returns (centroids, assigned vectors
    with __nsq and __list). Identical arithmetic to ivf_topk's build half.
    ``keep > 1`` multi-probes the ASSIGNMENT side (each vector lands in its
    ``keep`` nearest lists — Lloyd refinement always uses keep=1)."""
    spark = df.sparkSession
    # NULL embeddings stay out of every IVF assignment (r14 review — the
    # streaming sink's documented policy, now one definition for build/topk):
    # a NULL row's all-NULL centroid sims would fall through the argmax
    # window to an arbitrary "nearest" list as a dead row that can never
    # attract a match but bloats that list's partition forever.
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col), vec_norm_sq(F.col(vec_col)).alias("__nsq")
    )
    # Centroids live DRIVER-SIDE across the Lloyd loop (they are built from
    # driver rows in the first place — collect()ing them back each
    # iteration was a pointless extra Spark job per step, r12 review); the
    # cluster only ever sees them broadcast inside _nearest_lists. The base
    # scan deliberately re-runs per iteration: at corpus scale a pruned
    # parquet re-scan beats materializing every vector into executor
    # storage for the loop's short lifetime.
    rows = _seed_centroid_rows(base, id_col, vec_col, n_lists)
    cents = _centroid_frame(spark, rows)
    for _ in range(n_iter):
        assigned0 = _nearest_lists(base, cents, 1, "__list", id_col, vec_col)
        means = (
            assigned0.select("__list", F.posexplode(F.col(vec_col)).alias("__d", "__x"))
            .groupBy("__list", "__d")
            .agg(F.avg(F.col("__x").cast("double")).alias("__m"))
            .collect()
        )
        by_list: dict = {}
        for r in means:
            by_list.setdefault(r["__list"], {})[r["__d"]] = r["__m"]
        rows = [
            (int(cid), [by_list[cid][i] for i in sorted(by_list[cid])] if cid in by_list else vec)
            for cid, vec in rows
        ]
        cents = _centroid_frame(spark, rows)
    return cents, _nearest_lists(base, cents, keep, "__list", id_col, vec_col)


def ivf_query_index(
    spark: SparkSession,
    path: str,
    query_df: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a PERSISTED IVF index: read the tiny centroid table, pick each
    query's n_probe nearest lists, read ONLY those list partitions of the
    stored vector table (parquet partition pruning — the isin filter on the
    partition column never scans the other lists), and re-rank exactly
    inside them. No training, no base-table access."""
    gen = G.current_gen(path)
    cents = spark.read.parquet(G.gen_dir(path, "centroids", gen)).select(
        "__cid", "__cvec", vec_norm_sq(F.col("__cvec")).alias("__cnsq")
    )
    q_base = query_df.select(
        F.col(id_col), F.col(vec_col), vec_norm_sq(F.col(vec_col)).alias("__nsq")
    )
    probes = (
        _nearest_lists(q_base, cents, n_probe, "__list", id_col, vec_col)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            F.col("__nsq").alias("__qnsq"),
            "__list",
        )
        # Bounded (|queries| × n_probe rows) and consumed TWICE — the
        # distinct-collect below and the broadcast join — so materialize it
        # once instead of re-running the centroid crossJoin + window per
        # consumer (which also re-read the centroids parquet).
        .localCheckpoint(eager=False)
    )
    # Bounded collect (|queries| × n_probe ints): the probe list drives the
    # partition-pruning filter below.
    probe_lists = sorted({r["__list"] for r in probes.select("__list").distinct().collect()})
    index = spark.read.parquet(G.gen_dir(path, "vectors", gen)).where(
        F.col("__list").isin(probe_lists)
    )
    # Deleted vectors stop ranking immediately (tombstones subtract from
    # the already-pruned list partitions; compact reclaims them later).
    index = _subtract_tombstones(spark, path, gen, index, id_col)
    pairs = index.join(F.broadcast(probes), "__list").where(F.col(id_col) != F.col("query_id"))
    sim = cosine(F.col("__qvec"), F.col(vec_col), F.col("__qnsq"), F.col("__nsq"))
    return _rank_topk(pairs.select("query_id", id_col, sim.alias("cosine_sim")), id_col, k)


def ivf_append_index(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Incrementally grow a PERSISTED IVF index — the refresh path a
    GROWING corpus needs (a 100 TB crawl adds vectors continuously; a
    full rebuild per ingest batch is a non-starter): assign the new
    vectors to the EXISTING centroids (no retraining — the stored
    centroid table is read, never written) and append their rows into the
    partitioned vector layout. Queries that probe a list see old and new
    members identically — parquet partition append is invisible to the
    pruning filter in ivf_query_index.

    Trade documented: centroids drift as the corpus grows; recall
    degrades only to the extent the new data's modes differ from the
    training sample's (asserted within-noise-of-rebuild on the grown
    fixture in tests/test_operators.py). Periodic ivf_build_index over
    the full corpus is the re-center maintenance job, exactly like any
    IVF deployment (FAISS's add-after-train contract)."""
    gen = G.current_gen(path)
    cents = spark.read.parquet(G.gen_dir(path, "centroids", gen)).select(
        "__cid", "__cvec", vec_norm_sq(F.col("__cvec")).alias("__cnsq")
    )
    # NULL embeddings stay OUT of the index (r14 review — the streaming
    # sink's explicit filter, dedup_stream.py): they can never attract a
    # match (NULL cosine) and would otherwise land in an arbitrary list as
    # permanent dead rows.
    base = new_df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col), vec_norm_sq(F.col(vec_col)).alias("__nsq")
    )
    assigned = _nearest_lists(base, cents, 1, "__list", id_col, vec_col)
    # Batch appends into a STREAM-initialized index (rows carry a src_batch
    # tag — streaming/dedup_stream.py) backfill the tag with NULL, which no
    # self-exclusion ever matches; without the backfill the vectors
    # directory would hold mixed parquet schemas and a non-mergeSchema read
    # could drop the column (the minhash_index_append discipline).
    if "src_batch" in spark.read.parquet(G.gen_dir(path, "vectors", gen)).columns:
        assigned = assigned.withColumn(
            "src_batch", F.lit(None).cast("string")
        ).select(id_col, vec_col, "__nsq", "src_batch", "__list")
    assigned.write.mode("append").partitionBy("__list").parquet(
        G.gen_dir(path, "vectors", gen)
    )
    return path


def _probe_assignment(
    spark: SparkSession,
    path: str,
    gen: int,
    batch: DataFrame,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The probe-side assignment fallback shared by ``ivf_index_neardup_pairs``
    and ``ivf_index_dedup`` (two verbatim copies before the r14 review —
    the drift class this module's history keeps re-fixing): read ``gen``'s
    centroids, attach norms, assign each batch vector to its ``n_probe``
    nearest lists, and lazily checkpoint (the frame is consumed at least
    twice — the probe-list collect and the pairs join). Taking ``gen`` as
    an argument makes the single-generation-read discipline structural:
    the caller resolves it once, so the centroid and vector halves can
    never straddle a compact's pointer flip."""
    cents = spark.read.parquet(G.gen_dir(path, "centroids", gen)).select(
        "__cid", "__cvec", vec_norm_sq(F.col("__cvec")).alias("__cnsq")
    )
    base = batch.select(
        F.col(id_col), F.col(vec_col), vec_norm_sq(F.col(vec_col)).alias("__nsq")
    )
    return _nearest_lists(base, cents, n_probe, "__list", id_col, vec_col).localCheckpoint(
        eager=False
    )


def ivf_index_neardup_pairs(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    threshold: float = 0.95,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_src_batch: str | None = None,
    _assigned: DataFrame | None = None,
    _gen: int | None = None,
) -> DataFrame:
    """Semantic near-dup detection of an incoming batch against a PERSISTED
    IVF index — the embedding-space analogue of ``minhash_index_probe``:
    assign each batch vector to its ``n_probe`` nearest stored centroids,
    compare it by EXACT fold-left cosine against ONLY those list partitions
    of the stored vector table (parquet partition pruning — probe cost
    follows the batch, never the corpus), and return
    (id_new, id_hist, cosine_sim) pairs at or above the threshold.

    Pairs with identical ids are dropped (rebuild flows must not
    self-pair) but a re-ingested vector DOES match its own stored record
    under a different id — "this new vector duplicates history" is the
    signal, the _probe_pairs convention. Tombstoned vectors stop
    attracting matches immediately (the ivf_query_index interop). Like
    every IVF family member, recall < 1 by construction: a cross-list pair
    sharing none of the probed lists is missed (exact twin:
    neardup_cosine_exact over the union corpus).

    ``exclude_src_batch``: for STREAM-initialized indexes whose rows carry
    a ``src_batch`` tag (streaming/dedup_stream.py), ignore rows this
    micro-batch wrote itself — the retry self-exclusion. Null-safe:
    untagged rows (batch appends into a stream index) are always kept.

    ``_assigned``: optional precomputed ``n_probe`` assignment frame
    ((id, vec, __nsq, __list) rows, extra columns ignored) — the streaming
    sink passes its checkpointed one so the centroid read + assignment
    job run exactly once per micro-batch (the sig_new precedent of
    minhash_index_dedup).

    ``_gen``: the generation the caller already resolved (ALWAYS passed
    together with ``_assigned`` — an assignment from gen-N centroids must
    probe gen-N vectors; a compact flipping the pointer between the two
    reads would otherwise prune partitions under a DIFFERENT list
    numbering, the single-gen-read discipline of ``ivf_query_index``)."""
    gen = G.current_gen(path) if _gen is None else _gen
    if _assigned is None:
        _assigned = _probe_assignment(spark, path, gen, batch, n_probe, id_col, vec_col)
    assigned = _assigned
    # Bounded collect (≤ n_lists distinct ints) → parquet partition pruning.
    probe_lists = sorted(
        {r["__list"] for r in assigned.select("__list").distinct().collect()}
    )
    index = spark.read.parquet(G.gen_dir(path, "vectors", gen)).where(
        F.col("__list").isin(probe_lists)
    )
    if exclude_src_batch is not None:
        if "src_batch" not in index.columns:
            raise ValueError(
                "exclude_src_batch requires an index whose rows carry a"
                " src_batch column (stream_ivf_index_init)"
            )
        index = index.where(
            ~F.col("src_batch").eqNullSafe(F.lit(str(exclude_src_batch)))
        )
    index = _subtract_tombstones(spark, path, gen, index, id_col)
    h = index.select(
        "__list",
        F.col(id_col).alias("id_hist"),
        F.col(vec_col).alias("__hv"),
        F.col("__nsq").alias("__hn"),
    )
    n = assigned.select(
        "__list",
        F.col(id_col).alias("id_new"),
        F.col(vec_col).alias("__nv"),
        F.col("__nsq").alias("__nn"),
    )
    sim = cosine(F.col("__nv"), F.col("__hv"), F.col("__nn"), F.col("__hn"))
    # The probe side is micro-batch-sized by contract: broadcast it so the
    # pruned stored lists never shuffle (the ivf_query_index join shape).
    pairs = (
        h.join(F.broadcast(n), "__list")
        .where(F.col("id_new") != F.col("id_hist"))
        .select("id_new", "id_hist", sim.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )
    # Unconditional distinct (r14 review): duplicate pairs come from
    # RETRY-DUPLICATED appended rows — a retried micro-batch's survivors
    # land twice until a compact collapses them, and each stored copy emits
    # one bit-identical pair (same fold-left arithmetic) at ANY n_probe.
    # (Multi-probe itself can never duplicate a pair here: every stored
    # vector lives in exactly one list, so at most one join combination
    # exists per (new, hist) pair — the old n_probe>1 gate guarded the
    # impossible case and let the real one through.) The distinct runs on
    # the OUTPUT pairs — batch-bounded, never the corpus.
    return pairs.distinct()


def ivf_index_dedup(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    threshold: float = 0.95,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_src_batch: str | None = None,
    _assigned: DataFrame | None = None,
    _gen: int | None = None,
) -> DataFrame:
    """The APPLY half of ``ivf_index_neardup_pairs`` — batch semantic dedup
    against a persisted IVF index, and THE survivor rule of the streaming
    SEMANTIC sink (``streaming/dedup_stream.py::semantic_stream_sink``
    delegates here, so the two call sites cannot drift — the
    ``minhash_index_dedup`` discipline applied to the vector family): drop
    every batch vector that clears the cosine threshold against ANY stored
    vector of its ``n_probe`` nearest centroid lists (parquet partition
    pruning — probe cost follows the batch, never the corpus) or against a
    SMALLER-id member of its own batch sharing an assigned list (keep-min,
    the semantic_dedup_keep convention). Vectors with NULL embeddings can
    never clear the threshold (NULL cosine) and pass through — the
    unsigned-doc policy of the text families. Returns the surviving ids
    (one ``id_col`` column).

    ``_assigned``: optional precomputed ``n_probe`` assignment frame (the
    streaming sink passes its checkpointed rank-carrying one so the
    centroid read + assignment job run exactly once per micro-batch — the
    sig_new precedent); built here otherwise, checkpointed because the
    probe half and the batch-internal self-join both consume it.
    ``_gen``: the generation the caller's assignment came from (passed
    together with ``_assigned``); resolved ONCE here otherwise and
    threaded through the probe, so the centroid and vector reads can
    never straddle a compact's pointer flip (the ivf_query_index
    single-gen-read discipline).

    At scale: one bounded centroid read, one pruned-partition broadcast
    join (the probe), one batch-sized per-list self-join, one anti-join —
    never a corpus scan. Like every IVF family member, recall < 1 by
    construction (a cross-list pair sharing none of the probed lists is
    missed); an EXACT duplicate always shares its twin's nearest list and
    is always caught (pinned in tests/test_operators.py)."""
    if _assigned is None:
        if _gen is None:
            _gen = G.current_gen(path)
        _assigned = _probe_assignment(
            spark, path, _gen, batch, n_probe, id_col, vec_col
        )
    assigned = _assigned
    dropped_hist = ivf_index_neardup_pairs(
        spark,
        path,
        batch,
        threshold,
        n_probe,
        id_col,
        vec_col,
        exclude_src_batch=exclude_src_batch,
        _assigned=assigned,
        _gen=_gen,
    ).select(F.col("id_new").alias(id_col))
    # Batch-internal half: keep-min over shared assigned lists.
    n = assigned.select(
        "__list",
        F.col(id_col).alias("__nid"),
        F.col(vec_col).alias("__nv"),
        F.col("__nsq").alias("__nn"),
    )
    b = assigned.select(
        "__list",
        F.col(id_col).alias("__ib"),
        F.col(vec_col).alias("__vb"),
        F.col("__nsq").alias("__nb"),
    )
    dropped_internal = (
        n.join(b, "__list")
        .where(F.col("__nid") < F.col("__ib"))  # keep-min: higher id drops
        .where(
            cosine(F.col("__nv"), F.col("__vb"), F.col("__nn"), F.col("__nb"))
            >= threshold
        )
        .select(F.col("__ib").alias(id_col))
    )
    dropped = dropped_hist.union(dropped_internal).distinct()
    return batch.select(F.col(id_col)).join(dropped, id_col, "left_anti")


# -- Semantic (embedding-space) near-dedup ------------------------------------


def semantic_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_iter: int = 1,
    n_assign: int = 2,
) -> DataFrame:
    """SemDeDup-style embedding near-duplicate detection: cluster the
    vectors (the IVF assignment machinery — deterministic farthest-point
    seeding + Lloyd steps), then compare pairs only WITHIN a cluster and
    keep those at or above the cosine threshold. Output (id_a, id_b,
    cosine_sim) with id_a < id_b; scores are the exact fold-left cosine, so
    every emitted pair matches the all-pairs twin (neardup_cosine_exact)
    bit-for-bit — clustering can only MISS cross-cluster pairs, never
    invent or mis-score one (precision 1 by construction; recall asserted
    against the exact twin in tests).

    ``n_assign`` multi-probes the assignment: each vector lands in its
    n_assign nearest lists, so a pair is compared whenever the two SHARE
    any list — the standard recall lever for boundary pairs (a near-dup
    pair split by a Voronoi boundary almost always shares its 2nd-nearest
    list). Cost scales with n_assign² per-list pair volume; the distinct()
    dedups pairs that co-occur in several shared lists (bit-identical
    scores, so duplicate rows are exact).

    This is the embedding-space complement to MinHash text dedup at
    pretraining scale: the candidate step is an equi-join on the cluster
    id, so cost is sum of per-cluster quadratics, never the corpus
    quadratic — with balanced lists, (n·n_assign)²/n_lists pairs instead
    of n². At 100 TB you persist the assignment once (ivf_build_index) and
    the pair scan reads each list partition independently."""
    _cents, assigned = _ivf_assign(df, id_col, vec_col, n_lists, n_iter, keep=n_assign)
    a = assigned.select(
        "__list",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__nsq").alias("__na"),
    )
    b = assigned.select(
        "__list",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__nsq").alias("__nb"),
    )
    sim = cosine(F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb"))
    pairs = (
        a.join(b, "__list")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )
    # Multi-probe can surface one pair through several shared lists; the
    # duplicates are bit-identical rows (same fold-left arithmetic), so a
    # plain distinct collapses them. Skipped at n_assign=1 (no dups possible).
    return pairs.distinct() if n_assign > 1 else pairs


def semantic_dedup_keep(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_iter: int = 1,
    n_assign: int = 2,
) -> DataFrame:
    """The apply half of SemDeDup: drop every row that near-duplicates a
    LOWER-id row in its cluster (keep-lowest-id — deterministic and
    engine-portable; swap the tie-break for a quality score by re-ranking
    ids upstream). One anti-join against the distinct dropped-id set."""
    pairs = semantic_neardup_pairs(df, threshold, id_col, vec_col, n_lists, n_iter, n_assign)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")
