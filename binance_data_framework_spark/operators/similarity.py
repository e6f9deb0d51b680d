"""Similarity search over embedding columns (array<float>).

North-star extension (SURVEY.md §2b `topk_similarity`; PAPERS.md top-k
similarity literature). Two tiers:

- exact brute-force cosine top-k: probes broadcast against candidates; the
  dot product is a built-in higher-order `aggregate(zip_with(...))` — stays
  JVM-side, no UDF, whole-stage codegen. O(n_probes * n_candidates) work
  distributed across candidate partitions; correct baseline + DuckDB oracle.
- LSH-bucketed (random hyperplane signs = cosine LSH): candidates hashed to
  sign-pattern buckets, probes join their own bucket (+ optional multi-probe),
  exact cosine re-rank inside buckets — the 100 TB path, equi-join instead of
  cross product. Checked by invariants (k rows per probe, monotone scores,
  recall vs exact baseline) rather than an oracle.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double-precision dot product — bit-for-bit
    reproducible (matches an identically-ordered oracle computation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn("_v", v).withColumn("_norm", _norm(F.col("_v")))


def topk_cosine(
    df: DataFrame,
    probe_filter: Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_filter: Column | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe row (probe rows excluded
    from their own result). Returns (probe_id, vec_id, cosine, rank).

    ``candidate_filter``: metadata-FILTERED search — restrict the
    candidate side to rows matching the predicate (probes are selected by
    ``probe_filter`` regardless; a query vector may search a slice it does
    not itself belong to). The predicate lands on the candidate scan
    (plain Catalyst filter -> parquet pushdown), so the brute-force pass
    only scores the matching slice — the exact-baseline shape of filtered
    vector search."""
    base = with_norm(df, vec_col)
    probes = base.where(probe_filter).select(
        F.col(id_col).alias("probe_id"),
        F.col("_v").alias("_pv"),
        F.col("_norm").alias("_pnorm"),
    )
    cand = base if candidate_filter is None else base.where(candidate_filter)
    cand = cand.select(id_col, "_v", "_norm")
    pairs = cand.join(broadcast(probes), F.col(id_col) != F.col("probe_id"))
    cos = (_dot(F.col("_pv"), F.col("_v")) / (F.col("_pnorm") * F.col("_norm"))).alias(
        "cosine"
    )
    scored = pairs.select("probe_id", id_col, cos)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", id_col, "cosine", "rank")
    )


def _planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG; no numpy RNG state
    dependence) — same planes on every run/executor."""
    planes: list[list[float]] = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 16) % 2_000_001) / 1_000_000.0 - 1.0)
        planes.append(row)
    return planes


def _lsh_buckets_udf(planes_all: list[list[list[float]]]):
    """Vectorized multi-table bucket assignment: one Arrow batch matmul
    against all tables' hyperplanes at once. The builtin-HOF formulation
    (n_tables * n_planes aggregate-lambda dot products per row) is
    interpreted per-element in Catalyst and benched ~10x slower; this is the
    textbook 'vectorized Pandas UDF over numeric arrays' case. Bucket ids
    only need to be consistent within this operator, so no cross-impl
    bit-parity constraint applies."""
    mats = [np.asarray(p, dtype=np.float64).T for p in planes_all]  # dim x planes

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy())  # rows x dim
        per_table = []
        for mat in mats:
            signs = (m @ mat) > 0  # rows x n_planes
            b = np.zeros(len(m), dtype=np.int64)
            for i in range(signs.shape[1]):
                b |= signs[:, i].astype(np.int64) << i
            per_table.append(b)
        return pd.Series(list(np.stack(per_table, axis=1)))

    return buckets


def _pair_dot_udf():
    """Vectorized pairwise dot product for the LSH re-rank: one einsum per
    Arrow batch instead of an interpreted aggregate-lambda per pair. The
    oracle-checked exact path keeps the builtin `_dot` (bit-reproducible
    left-to-right order); the LSH path has no oracle, so the fast reduction
    order is fine."""

    @pandas_udf("double")
    def dot2(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.vstack(a.to_numpy())
        mb = np.vstack(b.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    return dot2


def probe_cells(vectors, centroids, nprobe: int) -> np.ndarray:
    """The nprobe nearest IVF cells of each probe row, by
    ``||c||^2 - 2 p.c`` with ties to the lowest cell id (the order the
    DuckDB IVF oracles replay). The ONE cell-resolution formula: the
    in-plan probe UDF and every driver-side cell prune call it, so a
    search never scores a probe in a cell whose codes were not read.
    The sums run dimension by dimension in fixed order, so a row's cells
    depend only on that row — a BLAS matmul's blocking can move the last
    bit with the batch shape and flip a near-tie between an Arrow batch
    and the driver's matrix. nprobe > n_centroids degrades to all cells
    (numpy slice semantics). Returns int32 (rows x min(nprobe, cells))."""
    p = np.asarray(vectors, dtype=np.float64)
    cm = np.asarray(centroids, dtype=np.float64)
    cn = np.zeros(len(cm))
    dot = np.zeros((len(p), len(cm)))
    for j in range(cm.shape[1]):
        cn += cm[:, j] * cm[:, j]
        dot += p[:, j, None] * cm[None, :, j]
    d = cn[None, :] - 2.0 * dot
    return np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype(np.int32)


def _probe_cells_udf(centroids: list[list[float]], nprobe: int):
    """In-plan form of probe_cells for IVF probes (shared by the IVF and
    IVF-PQ paths): one distance matrix per Arrow batch."""
    cm = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        return pd.Series(list(probe_cells(np.vstack(v.to_numpy()), cm, nprobe)))

    return cells


def _assign_udf(centroids: list[list[float]]):
    """Vectorized nearest-centroid assignment (L2): one distance matrix per
    Arrow batch against the broadcast centroid matrix."""
    cm = np.asarray(centroids, dtype=np.float64)  # ncent x dim
    cn = (cm * cm).sum(axis=1)  # ||c||^2, precomputed

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy())  # rows x dim
        # argmin ||x-c||^2 = argmin ||c||^2 - 2 x.c  (||x||^2 constant per row)
        d = cn[None, :] - 2.0 * (m @ cm.T)
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return assign


def train_sample(
    df: DataFrame,
    count: int,
    cap: int,
    id_col: str = "vec_id",
) -> tuple[DataFrame, float]:
    """Deterministic id-hash training sample for quantizer fitting
    (VERDICT r10 #1: full-corpus Lloyd iterations made IVF/PQ/OPQ
    *training* the one ANN tier with no sub-linear story — a 100 TB
    build paid k-means over every vector when the model only needs a
    few hundred points per centroid).

    Returns (sampled frame, fraction). ``count`` is the corpus size the
    caller already holds (the fingerprint aggregate computes it — no
    extra job here); ``cap`` the target sample size. count <= cap
    returns the input unchanged (fraction 1.0), so small corpora keep
    BIT-IDENTICAL models and every committed fixture index / recall
    certificate is unaffected.

    Membership = the engine-portable Knuth multiplicative id-hash the
    curation samplers use (curation.sample_stratified — high bits of
    id*M compared against the fraction), NOT rand(): reproducible
    across runs, partitionings, and engines, no RNG state to persist in
    the model sidecar. The sample is a narrow FILTER — no shuffle; one
    scan materializes it wherever the caller checkpoints."""
    if count <= cap:
        return df, 1.0
    from binance_data_framework_spark.operators.curation import (
        _ID_MOD,
        _MULT,
        _mixed_id,
    )

    frac = cap / count
    h = F.pmod(_mixed_id(id_col) * F.lit(_MULT), F.lit(_ID_MOD))
    # integer threshold on the 31-bit mixed value (int64-safe; same
    # high-bits read as sample_stratified's percent form, finer grain)
    return df.where(h < F.lit(int(frac * _ID_MOD))), frac


def kmeans_fit(
    df: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means expressed as DataFrame plans; only the
    model (n_centroids x dim floats) ever reaches the driver.

    - init: the n_centroids lowest-id vectors (deterministic, no RNG);
    - assign: broadcast centroid matrix into a vectorized Arrow batch UDF;
    - update: explode (cluster, pos, component) and groupBy-avg — hash
      aggregation with map-side partial combine, so each executor emits at
      most n_centroids*dim partial rows per partition regardless of input
      size. The 100 TB shape: one narrow pass + one tiny shuffle per iter.
    """
    base = df.select(
        id_col, F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v")
    )
    init = base.orderBy(id_col).limit(n_centroids).select("_v").collect()
    centroids = [list(r["_v"]) for r in init]
    if not centroids:
        raise ValueError("kmeans_fit needs a non-empty corpus")
    # corpus smaller than the requested cell count: degrade to one cell per
    # available init vector (the rebuild below indexed centroids[i] for
    # i >= len(centroids) and raised IndexError — dict.get evaluates its
    # default eagerly)
    n_centroids = min(n_centroids, len(centroids))
    for _ in range(n_iter):
        assigned = base.withColumn("_c", _assign_udf(centroids)(F.col("_v")))
        means = (
            assigned.select("_c", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("_c", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new = {r["_c"]: [0.0] * dim for r in means}
        for r in means:
            new[r["_c"]][r["_pos"]] = r["_m"]
        centroids = [new.get(i, centroids[i]) for i in range(n_centroids)]
    return centroids


def topk_cosine_ivf(
    df: DataFrame,
    probe_filter: Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer: k-means
    partitions the corpus into n_centroids cells; each probe searches only its
    `nprobe` nearest cells, with an exact cosine re-rank inside them.

    Scale shape: the index assignment is one narrow vectorized pass; search is
    an equi-join on the cell id (shuffle-partitioned by cell, no cross
    product) touching nprobe/n_centroids of the corpus per probe. Recall
    rises with nprobe; n_centroids ~ sqrt(corpus) balances cell size vs cell
    count at scale. Complements sign-LSH (`topk_cosine_lsh`): IVF adapts to
    the data distribution, LSH is data-independent.

    ``centroids`` injects a pre-trained coarse quantizer (model-sized:
    n_centroids x dim floats) — the index-build/search split every real ANN
    deployment has, and what lets callers train once and serve many
    searches (the recall-certificate tier shares one model this way)."""
    if centroids is None:
        centroids = kmeans_fit(df, n_centroids, 3, id_col, vec_col, dim)

    base = with_norm(df, vec_col).withColumn(
        "_c", _assign_udf(centroids)(F.col("_v"))
    )
    base = base.localCheckpoint(eager=False)

    probes = base.where(probe_filter).select(
        F.col(id_col).alias("probe_id"),
        F.col("_v").alias("_pv"),
        F.col("_norm").alias("_pnorm"),
        F.explode(_probe_cells_udf(centroids, nprobe)(F.col("_v"))).alias("_c"),
    )
    dot2 = _pair_dot_udf()
    scored = (
        base.select(id_col, "_c", F.col("_v").alias("_cv"), F.col("_norm").alias("_cnorm"))
        .join(broadcast(probes), on="_c")
        .where(F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            id_col,
            (
                dot2(F.col("_pv"), F.col("_cv"))
                / (F.col("_pnorm") * F.col("_cnorm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", id_col, "cosine", "rank")
    )


def topk_cosine_lsh(
    df: DataFrame,
    probe_filter: Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k with multi-table sign-LSH (OR-amplification):
    `n_tables` independent hash tables of `n_planes` hyperplanes each; a
    candidate is compared iff it collides with the probe in >=1 table, then
    exact cosine re-ranks the collision set.

    Scale shape: each row explodes to n_tables (table, bucket) keys; the join
    is an equi-join on (table, bucket) — shuffle-partitioned, no cross
    product. Recall rises with n_tables, cost with bucket size (2^-n_planes
    of the corpus per table). Tune (n_planes, n_tables) to the target
    recall/cost point; the exact variant remains the correctness baseline.
    """
    planes_all = [_planes(dim, n_planes, seed=42 + 1000 * t) for t in range(n_tables)]
    buckets = _lsh_buckets_udf(planes_all)
    base = with_norm(df, vec_col).withColumn("_tb", buckets(F.col("_v")))
    # The bucketed base is referenced three times below (probe side,
    # collision side, re-rank side); checkpoint it so the bucket UDF and
    # norms run once, not three times.
    base = base.localCheckpoint(eager=False)
    exploded = base.select(id_col, F.posexplode("_tb").alias("_t", "_b"))
    probe_rows = base.where(probe_filter).select(
        F.col(id_col).alias("probe_id"),
        F.col("_v").alias("_pv"),
        F.col("_norm").alias("_pnorm"),
    )
    # filter on BASE (full columns), like the other topk_* paths: `exploded`
    # carries only (id, table, bucket), so a probe_filter referencing any
    # other df column would fail to resolve there
    probe_keys = base.where(probe_filter).select(
        F.col(id_col).alias("probe_id"), F.posexplode("_tb").alias("_t", "_b")
    )
    # Collision set grouped PER CANDIDATE — `collect_set(probe_id)` both
    # dedups pairs (a candidate can collide with the same probe in several
    # tables) and collapses the join key to one row per candidate, so each
    # candidate vector crosses the wire once no matter how many probes it
    # collides with. Bare-long shuffle; vectors join back from the
    # checkpointed base.
    cand_probes = (
        exploded.join(broadcast(probe_keys), on=["_t", "_b"])
        .where(F.col(id_col) != F.col("probe_id"))
        .groupBy(id_col)
        .agg(F.collect_set("probe_id").alias("_probes"))
    )
    cand = base.select(
        id_col, F.col("_v").alias("_cv"), F.col("_norm").alias("_cnorm")
    )
    dot2 = _pair_dot_udf()
    scored = (
        cand_probes.join(cand, on=id_col)
        .select(id_col, "_cv", "_cnorm", F.explode("_probes").alias("probe_id"))
        .join(broadcast(probe_rows), on="probe_id")
        .select(
            "probe_id",
            id_col,
            (
                dot2(F.col("_pv"), F.col("_cv"))
                / (F.col("_pnorm") * F.col("_cnorm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized re-rank compression (the 100 TB ANN memory path)
# ---------------------------------------------------------------------------


def _pq_codes_udf(books: list[list[list[float]]], sub_dim: int):
    """Vectorized PQ encoding: residual -> M codebook indices (argmin L2 per
    subspace), one Arrow batch at a time. Ties break to the lowest index
    (np.argmin), so encoding is deterministic."""
    b3 = np.asarray(books, dtype=np.float64)  # M x ksub x sub_dim
    bn = (b3 * b3).sum(axis=2)  # M x ksub
    m_sub = len(books)

    @pandas_udf("array<int>")
    def codes(r: pd.Series) -> pd.Series:
        mr = np.vstack(r.to_numpy())
        rows = mr.reshape(len(mr), m_sub, sub_dim)
        out = np.empty((len(mr), m_sub), dtype=np.int32)
        for m in range(m_sub):
            d = bn[m][None, :] - 2.0 * (rows[:, m, :] @ b3[m].T)
            out[:, m] = np.argmin(d, axis=1)
        return pd.Series(list(out))

    return codes


def _residual_udf(centroids: list[list[float]]):
    cm = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("array<double>")
    def resid(v: pd.Series, c: pd.Series) -> pd.Series:
        mv = np.vstack(v.to_numpy())
        return pd.Series(list(mv - cm[c.to_numpy()]))

    return resid


def pq_train(
    residuals: DataFrame,
    m_sub: int = 8,
    ksub: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    resid_col: str = "_r",
) -> list[list[list[float]]]:
    """Train M per-subspace codebooks (Lloyd's) over residual sub-vectors.

    ALL subspaces train together in one DataFrame job per iteration: explode
    each residual into its M sub-vectors, assign against the current
    codebooks in one vectorized pass, update with a (subspace, code,
    component)-keyed avg — map-side partial combine bounds every executor's
    output at m_sub*ksub*sub_dim rows regardless of corpus size. Only the
    codebooks (m_sub x ksub x sub_dim floats) reach the driver. Init =
    lowest-id sub-vectors (deterministic, no RNG), mirroring kmeans_fit."""
    sub_dim = dim // m_sub
    subs = residuals.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[F.slice(resid_col, m * sub_dim + 1, sub_dim) for m in range(m_sub)]
            )
        ).alias("_m", "_s"),
    )
    w = Window.partitionBy("_m").orderBy(id_col)
    init_rows = (
        subs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= ksub)
        .select("_m", "_rn", "_s")
        .collect()
    )
    books: list[list[list[float]]] = [
        [[0.0] * sub_dim for _ in range(ksub)] for _ in range(m_sub)
    ]
    for row in init_rows:
        books[row["_m"]][row["_rn"] - 1] = list(row["_s"])

    for _ in range(n_iter):
        b3 = np.asarray(books, dtype=np.float64)
        bn = (b3 * b3).sum(axis=2)

        @pandas_udf("int")
        def assign(m: pd.Series, s: pd.Series) -> pd.Series:
            sv = np.vstack(s.to_numpy())
            ms = m.to_numpy()
            out = np.empty(len(sv), dtype=np.int32)
            for mm in np.unique(ms):
                mask = ms == mm
                d = bn[mm][None, :] - 2.0 * (sv[mask] @ b3[mm].T)
                out[mask] = np.argmin(d, axis=1)
            return pd.Series(out)

        means = (
            subs.withColumn("_code", assign("_m", "_s"))
            .select("_m", "_code", F.posexplode("_s").alias("_pos", "_x"))
            .groupBy("_m", "_code", "_pos")
            .agg(F.avg("_x").alias("_mean"))
            .collect()
        )
        new = [[list(c) for c in bm] for bm in books]  # empty codes keep old
        for r in means:
            new[r["_m"]][r["_code"]][r["_pos"]] = r["_mean"]
        books = new
    return books


def _rotate_udf(R: np.ndarray):
    """Vectorized orthogonal rotation: one batch matmul per Arrow batch."""
    Rt = np.asarray(R, dtype=np.float64).T

    @pandas_udf("array<double>")
    def rot(v: pd.Series) -> pd.Series:
        return pd.Series(list(np.vstack(v.to_numpy()) @ Rt))

    return rot


def opq_train(
    residuals: DataFrame,
    m_sub: int = 8,
    ksub: int = 16,
    n_sweeps: int = 2,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    resid_col: str = "_r",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """OPQ (Ge et al., CVPR 2013, non-parametric): learn an orthogonal
    rotation R so that product quantization of R·x loses less than PQ of x
    — the rotation decorrelates and balances variance across the M
    subspaces, which is exactly the structure PQ's independent-subspace
    assumption wants. Alternating minimization of ||R·x − q(R·x)||²:

      (a) fix R: train PQ codebooks on the rotated residuals (pq_train);
      (b) fix the codes: orthogonal-Procrustes update — with
          y_i = q(R·x_i) the reconstruction, R* = U·Vᵀ from
          SVD(Σ y_i·x_iᵀ) minimizes Σ ||R·x_i − y_i||².

    Scale shape: step (b)'s Σ y·xᵀ is a dim×dim (64×64) matrix accumulated
    as ONE grouped-by-partition applyInPandas pass emitting a flattened
    partial matrix per partition — only n_partitions × dim² floats reach
    the driver, where the trivial 64×64 SVD runs. Everything is
    deterministic (no RNG anywhere: pq_train inits from lowest ids,
    np.linalg.svd is deterministic for a fixed input).

    Returns (R as dim×dim row-major lists, codebooks trained on R-rotated
    residuals)."""
    R = np.eye(dim)
    books: list[list[list[float]]] = []
    # checkpoint both the residual source and each sweep's rotation: every
    # Spark action inside a sweep (pq_train's init + per-iter collects, the
    # correlation pass) would otherwise re-run the rotation (and upstream
    # residual) Arrow UDFs over the whole corpus — same rationale as the
    # sibling paths' checkpoints
    base = residuals.select(id_col, F.col(resid_col).alias("_x")).localCheckpoint(
        eager=False
    )
    for sweep in range(n_sweeps):
        rot = base.select(
            id_col, _rotate_udf(R)(F.col("_x")).alias("_r")
        ).localCheckpoint(eager=False)
        books = pq_train(rot, m_sub, ksub, n_iter, dim, id_col, "_r")
        if sweep == n_sweeps - 1:
            break  # end on codebook training for the final rotation
        b3 = np.asarray(books, dtype=np.float64)
        sub_dim = dim // m_sub
        # carry the ORIGINAL x alongside its code — no join-back shuffle
        coded = base.select(
            "_x", _rotate_udf(R)(F.col("_x")).alias("_r")
        ).select("_x", _pq_codes_udf(books, sub_dim)(F.col("_r")).alias("_code"))

        def corr_partials(pdfs):
            for pdf in pdfs:
                x = np.vstack(pdf["_x"].to_numpy())
                cd = np.vstack(pdf["_code"].to_numpy())
                # y = reconstruction of R·x from the codes
                y = np.concatenate(
                    [b3[m][cd[:, m]] for m in range(m_sub)], axis=1
                )
                yield pd.DataFrame({"corr": [list((y.T @ x).ravel())]})

        parts = coded.select("_x", "_code").mapInPandas(
            corr_partials, "corr array<double>"
        ).collect()
        M = np.zeros((dim, dim))
        for r in parts:
            M += np.asarray(r["corr"]).reshape(dim, dim)
        U, _, Vt = np.linalg.svd(M)
        R = U @ Vt
    return [list(row) for row in R], books


def _adc_udf(
    centroids: list[list[float]],
    books: list[list[list[float]]],
    sub_dim: int,
    rotation: list[list[float]] | None = None,
):
    """Asymmetric-distance (ADC) approximate dot product:
    dot(p, v) ~ dot(p, cell_centroid) + sum_m table_m[code_m], where
    table_m[j] = dot(p_sub_m, codebook_m[j]). Lookup tables are built once
    per UNIQUE probe per Arrow batch (probes repeat across candidate rows),
    then gathered per candidate — the candidate side contributes only its
    M-byte code.

    With an OPQ ``rotation`` R, the codes quantize R·residual, so the
    probe-side tables are built from the ROTATED probe sub-vectors
    (dot(p, r) = dot(R·p, R·r) for orthogonal R); the centroid term stays
    in the original space."""
    cm = np.asarray(centroids, dtype=np.float64)
    b3 = np.asarray(books, dtype=np.float64)
    m_sub = len(books)
    Rt = None if rotation is None else np.asarray(rotation, dtype=np.float64).T

    @pandas_udf("double")
    def adc(pid: pd.Series, pv: pd.Series, c: pd.Series, codes: pd.Series) -> pd.Series:
        ids = pid.to_numpy()
        uniq, first_idx, inv = np.unique(ids, return_index=True, return_inverse=True)
        full = np.vstack(pv.to_numpy())
        pu = full[first_idx]  # one probe row per unique probe
        if Rt is not None:
            pu = pu @ Rt
        pus = pu.reshape(len(uniq), m_sub, sub_dim)
        # tables: m_sub x n_uniq x ksub
        tables = np.stack([pus[:, m, :] @ b3[m].T for m in range(m_sub)])
        cd = np.vstack(codes.to_numpy())  # rows x m_sub
        score = np.einsum("ij,ij->i", full, cm[c.to_numpy()])
        for m in range(m_sub):
            score = score + tables[m][inv, cd[:, m]]
        return pd.Series(score)

    return adc


def adc_cell_scorer(
    centroids: list[list[float]],
    books: list[list[list[float]]],
    sub_dim: int,
    rotation: list[list[float]] | None,
    shortlist_width: int,
):
    """The per-cell blocked ADC kernel, as a plain numpy function shared
    by the distributed cogroup (_adc_blocked_shortlist) and the driver
    branch of ann_serve.serve_batch — both paths score with this code,
    not a copy of it.

    ``score(c, ids, codes, pids, P)`` scores every probe row of ``P``
    (ids ``pids``) against the codes of cell ``c`` (``ids`` ASCENDING,
    ``codes`` n x m_sub): it builds the per-probe lookup tables once
    (probe chunks of 64 bound peak memory at chunk x occupancy doubles)
    and returns each probe's top ``shortlist_width`` candidates by (ADC
    desc, id asc) as (probe_ids, ids, adc) arrays — the same tie order
    the global shortlist applies, so selecting per cell first provably
    preserves the global top-``shortlist_width``. Self-pairs are masked
    by ID."""
    cm = np.asarray(centroids, dtype=np.float64)
    b3 = np.asarray(books, dtype=np.float64)
    m_sub = len(books)
    Rt = None if rotation is None else np.asarray(rotation, dtype=np.float64).T
    width = int(shortlist_width)

    def score(c: int, ids: np.ndarray, cd: np.ndarray, pids: np.ndarray, P: np.ndarray):
        cent_term = P @ cm[c]  # p — dot(probe, cell centroid)
        PT = P if Rt is None else P @ Rt
        ps = PT.reshape(len(P), m_sub, sub_dim)
        # tables: m_sub x p x ksub (probe-side lookup tables, built once)
        tables = np.stack([ps[:, m, :] @ b3[m].T for m in range(m_sub)])
        take = min(width, len(ids))
        out_p, out_i, out_s = [], [], []
        chunk = 64
        for lo in range(0, len(P), chunk):
            hi = min(lo + chunk, len(P))
            S = np.broadcast_to(
                cent_term[lo:hi, None], (hi - lo, len(ids))
            ).copy()
            for m in range(m_sub):
                S += tables[m][lo:hi][:, cd[:, m]]
            S[pids[lo:hi, None] == ids[None, :]] = -np.inf  # mask self
            sel = np.argpartition(-S, take - 1, axis=1)[:, :take]
            vals = np.take_along_axis(S, sel, axis=1)
            # boundary ties: re-select ambiguous rows with a stable value
            # sort so the kept set honors (ADC desc, id asc) exactly —
            # ids arrive ascending, so stable = id asc
            thresh = vals.min(axis=1)
            with np.errstate(invalid="ignore"):
                amb = (S >= thresh[:, None]).sum(axis=1) > take
            if amb.any():
                order = np.argsort(-S[amb], axis=1, kind="stable")[:, :take]
                sel[amb] = order
                vals[amb] = np.take_along_axis(S[amb], order, axis=1)
            ok = np.isfinite(vals)
            rows = np.repeat(pids[lo:hi], take).reshape(hi - lo, take)
            out_p.append(rows[ok])
            out_i.append(ids[sel][ok])
            out_s.append(vals[ok])
        return np.concatenate(out_p), np.concatenate(out_i), np.concatenate(out_s)

    return score


def _adc_blocked_shortlist(
    coded: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    sub_dim: int,
    rotation: list[list[float]] | None,
    shortlist_width: int,
    id_col: str,
) -> DataFrame:
    """Per-cell blocked ADC scoring for MANY-probe batches (the gate /
    bulk-serving regime — see topk_cosine_ivfpq's blocked_adc branch for
    the measured motivation). Cogroups the cell-pruned code rows with the
    cell-exploded probe rows BY CELL and scores each cell with
    adc_cell_scorer. Returns (probe_id, id, _adc)."""
    import pandas as pd

    score = adc_cell_scorer(centroids, books, sub_dim, rotation, shortlist_width)
    id_type = coded.schema[id_col].dataType.simpleString()

    def kernel(codes_pdf: pd.DataFrame, probes_pdf: pd.DataFrame) -> pd.DataFrame:
        if codes_pdf.empty or probes_pdf.empty:
            return pd.DataFrame({"probe_id": [], id_col: [], "_adc": []})
        # id-ascending rows make the kernel's stable tie sort mean "lowest
        # id wins" independent of the (unspecified) group row order Spark
        # hands us (the _bucket_topk lesson, ADVICE r5)
        codes_pdf = codes_pdf.sort_values(id_col, kind="mergesort")
        p, i, s = score(
            int(codes_pdf["_c"].iloc[0]),
            codes_pdf[id_col].to_numpy(),
            np.vstack(codes_pdf["_code"].to_numpy()),
            probes_pdf["probe_id"].to_numpy(),
            np.vstack(probes_pdf["_pv"].to_numpy()),
        )
        return pd.DataFrame({"probe_id": p, id_col: i, "_adc": s})

    return (
        coded.select(id_col, "_c", "_code")
        .groupBy("_c")
        .cogroup(probes.select("probe_id", "_pv", "_c").groupBy("_c"))
        .applyInPandas(
            kernel, f"probe_id {id_type}, {id_col} {id_type}, _adc double"
        )
    )


#: default exact-re-rank shortlist multiplier for the PQ searches (k*refine
#: ADC candidates per probe survive to the exact re-rank). 64 is the MEASURED
#: recall-held setting, not a guess: the r12 2M-vector sweep
#: (BENCH_SCALING.ann_ops) put recall@10 at 0.10 with refine=4, 0.46 at 16,
#: 0.88 at 64 — invariant to nprobe 5..20, so the shortlist width is the
#: binding knob at scale and a refine-4 default silently serves 0.10-recall
#: answers to any caller who trusts the defaults (VERDICT r12 #4). The
#: registry's DuckDB replay oracles import this same constant, so the Spark
#: plan and the oracle can never disagree on the shortlist width. Cost is
#: k*refine exact-vector fetches per probe — corpus-size-independent.
DEFAULT_REFINE = 64


def topk_cosine_ivfpq(
    df: DataFrame,
    probe_filter: Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    m_sub: int = 8,
    ksub: int = 16,
    refine: int = DEFAULT_REFINE,
    opq: bool = False,
    opq_sweeps: int = 2,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    rotation: list[list[float]] | None = None,
    coded: DataFrame | None = None,
    blocked_adc: bool = False,
) -> DataFrame:
    """IVF-PQ with exact re-rank: the coarse IVF quantizer prunes to nprobe
    cells, an ADC scan over PRODUCT-QUANTIZED codes shortlists k*refine
    candidates per probe, and only the shortlist joins back its exact
    vectors for the final cosine re-rank.

    Why this is the 100 TB path: inside the probed cells the scan carries
    (id, cell, M-byte code) — 8-16 bytes of payload per candidate instead of
    a dim*8-byte vector (64x compression at dim=64/M=8) — so the
    probes-x-cell-candidates stage moves bytes proportional to codes, not
    vectors. Full vectors cross the wire only for the k*refine shortlist
    (bounded per probe, independent of corpus size). Recall is bounded by
    the IVF cell choice (as topk_cosine_ivf) times ADC shortlist quality;
    `refine` buys shortlist recall back at 8 bytes/candidate. Final scores
    are EXACT cosines of the shortlist — approximation affects which
    candidates are ranked, never the reported values.

    ``opq=True`` inserts a learned orthogonal rotation before quantization
    (opq_train): codes quantize R·residual and the ADC probe tables rotate
    to match — better shortlist quality at the SAME m_sub/ksub code budget
    (the rotation costs one dim×dim matmul per batch at index/query time,
    nothing per candidate).

    ``centroids`` injects a pre-trained coarse quantizer (see
    topk_cosine_ivf — train once, search many). ``books``/``rotation``/
    ``coded`` inject the FULL persisted index (ann_index.AnnIndexStore):
    with ``coded`` given — (id, _c, _code), typically the store's
    cell-partitioned code layout pruned to the probed cells — the search
    runs NO training and NO corpus encode pass at all; the corpus is
    touched only by the probe-filtered scan and the shortlist re-rank
    join. That is the train-once/search-many split at 100 TB: per-query
    work is O(probes x probed-cell codes) + O(k*refine) vector fetches."""
    if centroids is None:
        centroids = kmeans_fit(df, n_centroids, 3, id_col, vec_col, dim)
    sub_dim = dim // m_sub

    persisted = coded is not None
    if coded is None:
        base = with_norm(df, vec_col).withColumn(
            "_c", _assign_udf(centroids)(F.col("_v"))
        )
        base = base.localCheckpoint(eager=False)
        resid = base.select(
            id_col, "_c", _residual_udf(centroids)(F.col("_v"), F.col("_c")).alias("_r")
        )
        if books is None:
            if opq:
                rotation, books = opq_train(
                    resid, m_sub, ksub, opq_sweeps, 2, dim, id_col
                )
            else:
                rotation = None
                books = pq_train(resid, m_sub, ksub, 2, dim, id_col)
        if rotation is not None:
            resid = resid.select(
                id_col, "_c", _rotate_udf(np.asarray(rotation))(F.col("_r")).alias("_r")
            )
        coded = resid.select(
            id_col, "_c", _pq_codes_udf(books, sub_dim)(F.col("_r")).alias("_code")
        ).localCheckpoint(eager=False)
    else:
        if books is None:
            raise ValueError("coded requires the matching books")
        # persisted-index path: NO checkpoint — materializing (_v, _norm)
        # for the whole corpus is exactly the per-query cost the persisted
        # codes exist to avoid; the probe side is a pushed-down filter scan
        # and the re-rank touches only the shortlist
        base = with_norm(df, vec_col)

    probe_rows = base.where(probe_filter).select(
        F.col(id_col).alias("probe_id"),
        F.col("_v").alias("_pv"),
        F.col("_norm").alias("_pnorm"),
    )
    probes = base.where(probe_filter).select(
        F.col(id_col).alias("probe_id"),
        F.col("_v").alias("_pv"),
        F.explode(_probe_cells_udf(centroids, nprobe)(F.col("_v"))).alias("_c"),
    )
    if blocked_adc:
        # MANY-PROBE regime (found by the r12 semantic-gate bench): the
        # row-join form below carries the probe's dim*8-byte vector on
        # EVERY (probe, candidate) pair — at a 1500-probe gate batch
        # against 100k-occupancy cells that is ~600M pair rows x 512 B of
        # probe payload (~300 GB) through the Arrow boundary, measured
        # 305 s per batch at the 2M decade. The blocked form cogroups
        # codes with probes BY CELL and scores each cell as chunked numpy
        # gathers (the _bucket_topk pattern applied to ADC): each probe
        # vector enters a cell once, each candidate contributes its
        # M-byte code once, and only the per-cell per-probe top
        # k*refine (a superset restriction that provably preserves the
        # global shortlist under the same (score desc, id) order) crosses
        # back — probes x cells x k*refine rows instead of probes x
        # cell-occupancy. Opt-in (serve_batch passes it): the few-probe
        # serving path keeps the row form whose per-pair rows are few.
        shortlist = _adc_blocked_shortlist(
            coded, probes, centroids, books, sub_dim, rotation,
            k * refine, id_col,
        )
    else:
        adc = _adc_udf(centroids, books, sub_dim, rotation)
        shortlist = (
            coded.join(broadcast(probes), on="_c")
            .where(F.col(id_col) != F.col("probe_id"))
            .select(
                "probe_id",
                id_col,
                adc(F.col("probe_id"), F.col("_pv"), F.col("_c"), F.col("_code")).alias(
                    "_adc"
                ),
            )
        )
    ws = Window.partitionBy("probe_id").orderBy(F.desc("_adc"), F.col(id_col))
    short = (
        shortlist.withColumn("_sr", F.row_number().over(ws))
        .where(F.col("_sr") <= k * refine)
        .select("probe_id", id_col)
    )
    # exact re-rank: ONLY the shortlist pulls full vectors. On the
    # persisted-index path the corpus scan is GATED by a broadcast
    # semi-join on the (checkpointed, shortlist-sized) id set BEFORE the
    # norm projection — with_norm over the un-joined corpus was the one
    # corpus-sized compute left in this path (r11: the 20M-vector ann_ops
    # point measured a 5-probe search at 94 s, most of it the interpreted
    # HOF norm over 20M rows the join then discarded; gated, the re-rank
    # touches O(k*refine*probes) rows). The in-plan path keeps reading its
    # corpus checkpoint: the norms there are already materialized.
    if persisted:
        # NO checkpoint for the doubly-consumed shortlist (r13): a lazy
        # localCheckpoint still calls toRdd, which under AQE executes every
        # upstream query stage EAGERLY at plan-construction time — the
        # search ran inside the caller's "build the DataFrame" step and the
        # planning pass was paid twice. The two consumers (semi-join gate,
        # re-rank join) share the shortlist's shuffle, so stage/exchange
        # reuse keeps the ADC scan single-executed without it (A/B at
        # sf0.1: identical rows, same exec time, one fewer job, construct
        # no longer blocks).
        cand = with_norm(
            df.join(
                # no .distinct() on the build side (r13): left_semi keeps
                # one match regardless of build-side duplicates, and the
                # distinct cost a full exchange + two hash aggregates on
                # every persisted search; the broadcast stays bounded by
                # k*refine*probes rows either way
                broadcast(short.select(id_col)),
                on=id_col,
                how="left_semi",
            ),
            vec_col,
        ).select(
            id_col, F.col("_v").alias("_cv"), F.col("_norm").alias("_cnorm")
        )
    else:
        cand = base.select(
            id_col, F.col("_v").alias("_cv"), F.col("_norm").alias("_cnorm")
        )
    dot2 = _pair_dot_udf()
    rer = (
        short.join(cand, on=id_col)
        .join(broadcast(probe_rows), on="probe_id")
        .select(
            "probe_id",
            id_col,
            (dot2(F.col("_pv"), F.col("_cv")) / (F.col("_pnorm") * F.col("_cnorm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", id_col, "cosine", "rank")
    )


def topk_cosine_filtered_ivfpq(
    df: DataFrame,
    probe_filter: Column,
    candidate_filter: Column,
    k: int = 10,
    overfetch: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    selectivity: float | None = None,
    target_factor: float = 2.0,
    max_overfetch: int = 64,
    cache=None,
    cache_key: str | None = None,
    **ivfpq_kwargs,
) -> DataFrame:
    """Metadata-FILTERED approximate top-k over a (typically persisted)
    IVF-PQ index: the standard over-fetch/post-filter strategy every
    production vector engine uses for moderately selective predicates —
    fetch ``k * overfetch`` unfiltered candidates from the index, drop the
    ones failing the predicate, re-rank the survivors to k.

    Why post-filter (and not pre-filter) is the 100 TB default: the
    committed code layout is partitioned by IVF CELL — an attribute
    predicate cannot prune it, so a pre-filtering search would have to
    join the predicate into the cell-candidate scan, turning the 8-16
    byte/candidate ADC pass into a corpus-keyed join. Post-filtering keeps
    the index scan untouched and pays one extra narrow pass over the
    FILTERED corpus slice instead: the predicate lands on the metadata
    scan (Catalyst pushdown), and the k*overfetch shortlist — probe-bounded,
    independent of corpus size — is BROADCAST against it, so the corpus
    side never shuffles.

    SELECTIVITY GATE (VERDICT r8 #2 — the escape hatch post-filtering
    needs): a predicate keeping fraction s of the corpus leaves
    ~s * k * overfetch survivors per probe; at s = 1% with overfetch 4
    the expected surviving shortlist is under one row and recall
    collapses. So the strategy is chosen on MEASURED selectivity — one
    predicate-pushed-down count of the matching slice (the same
    measured-count-gate pattern as the LM-dictionary broadcast gate in
    text.py; never an optimizer estimate):

    - moderate s: escalate overfetch to ceil(target_factor / s), so the
      expected survivors stay >= target_factor * k regardless of s
      (never below the caller's ``overfetch``);
    - s below target_factor / max_overfetch: run the EXACT filtered path
      (topk_cosine with the predicate on the candidate scan) — the
      brute-force slice is small precisely because the predicate is
      selective, and recall is 1.0 by construction;
    - s == 0: the exact path returns the correct empty result.

    ``selectivity`` short-circuits the measurement when the caller
    already knows it (e.g. a partition-count from table stats). Recall
    under the filter remains certificate-monitored across the
    selectivity range (registry topk_recall_filtered: ~50% / ~5% / ~0.5%
    fixtures); past max_overfetch a dedicated attribute-partitioned
    index tier is the real answer (out of scope, same answer
    FAISS/Milvus give).

    DECISION CACHE (VERDICT r9 #7): ``cache`` is a get/put object (e.g.
    AnnIndexStore.filtered_cache(fingerprint)) and ``cache_key`` a caller
    fingerprint of (predicate, probe set, k, knobs). On a hit, BOTH
    measurement jobs disappear from the plan — the global selectivity
    counts and the per-probe completeness collect — and the cached
    starved-probe set drives the rescue directly; deterministic operator
    + unchanged index fingerprint (the cache binds to it) means the
    replayed decision yields row-identical results. On a miss the
    measured decision is written back after the completeness check."""
    cached = cache.get(cache_key) if cache is not None and cache_key else None
    if cached is not None:
        selectivity = cached["selectivity"]
    if selectivity is None:
        # one pushed-down count over the predicate column(s) only —
        # df.count() on the parquet source is footer-bound, the filtered
        # count scans just the predicate columns
        n_total = df.count()
        n_match = df.where(candidate_filter).count()
        selectivity = (n_match / n_total) if n_total else 0.0
    if selectivity <= 0 or target_factor / max(selectivity, 1e-12) > max_overfetch:
        if cached is None and cache is not None and cache_key:
            # the exact path needs no starved set, but caching s lets the
            # next invocation skip the selectivity counts too
            cache.put(cache_key, {"selectivity": selectivity, "starved": []})
        return topk_cosine(
            df,
            probe_filter,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            candidate_filter=candidate_filter,
        )
    overfetch = max(overfetch, math.ceil(target_factor / selectivity))
    fetched = topk_cosine_ivfpq(
        df,
        probe_filter,
        k=k * overfetch,
        id_col=id_col,
        vec_col=vec_col,
        **ivfpq_kwargs,
    )
    keep = df.where(candidate_filter).select(id_col)
    # shortlist is n_probes x k x overfetch rows — broadcast it; the
    # filtered metadata slice streams past it (no corpus shuffle)
    filt = keep.join(broadcast(fetched), on=id_col).select(
        "probe_id", id_col, "cosine"
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.col(id_col))
    ranked = (
        filt.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", id_col, "cosine", "rank")
    )
    # PER-PROBE rescue (the correlated-attribute failure the global gate
    # cannot see, found at the 2M-vector fixture: when the predicate
    # correlates with vector clusters — "nearest neighbors WHERE
    # category = X" asked by a probe from category Y — the probe's whole
    # shortlist is its own cluster and the post-filter starves it even
    # though GLOBAL selectivity is 50%. Measured: 4 of 5 probes returned
    # zero survivors while the measured s said overfetch 8 sufficed).
    # The probe set is model-sized by contract, so the completeness
    # check is one bounded collect; starved probes (< k survivors)
    # re-run on the EXACT filtered path — correct by construction, and
    # its scan is the matching slice only. Healthy probes keep the
    # index-path answer untouched.
    if cached is not None:
        # replayed decision: the completeness collect is skipped entirely —
        # the starved set is a pure function of (index, predicate, probes),
        # all pinned by the cache's fingerprint binding
        starved = list(cached["starved"])
    else:
        ranked = ranked.localCheckpoint(eager=True)  # consumed by check + result
        got = {
            r["probe_id"]: r["n"]
            for r in ranked.groupBy("probe_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        starved = [
            r["probe_id"]
            for r in df.where(probe_filter)
            .select(F.col(id_col).alias("probe_id"))
            .collect()
            if got.get(r["probe_id"], 0) < k
        ]
        if cache is not None and cache_key:
            cache.put(cache_key, {"selectivity": selectivity, "starved": starved})
    if not starved:
        return ranked
    rescue = topk_cosine(
        df,
        probe_filter & F.col(id_col).isin(starved),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        candidate_filter=candidate_filter,
    )
    return ranked.where(~F.col("probe_id").isin(starved)).unionByName(rescue)


def mmr_diversify(
    df: DataFrame,
    probe_filter: Column,
    k: int = 10,
    m: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking of the exact top-k (r11):
    from each probe's k nearest neighbors, greedily select m results
    balancing relevance against redundancy —
    score(c) = lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s),
    ties broken by id. The standard retrieval-diversity step (Carbonell
    & Goldstein 1998) between vector search and a RAG/labeling consumer:
    top-k alone returns near-duplicate clusters, MMR spends the m slots
    on distinct regions.

    Scale shape: the shortlist is k rows per probe (bounded); the greedy
    loop runs per probe inside ONE applyInPandas over shortlist-sized
    input — O(m * k * dim) Python work per probe, never corpus-touching.
    The candidate-candidate similarities use a SEQUENTIAL left-to-right
    float64 dot (bounded work), so every score is bit-identical to an
    external SQL replay — the registry oracle unrolls the m greedy steps
    as plain SQL and hash-matches end-to-end.

    Returns (probe_id, id, mmr_rank, relevance, mmr_score); mmr_score of
    the first pick is lam * rel (maxsim = 0)."""
    import pandas as pd

    top = topk_cosine(df, probe_filter, k=k, id_col=id_col, vec_col=vec_col)
    base = df.select(
        F.col(id_col).alias("_cid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_cv"),
    )
    short = top.join(base, top[id_col] == base["_cid"]).select(
        "probe_id", id_col, "cosine", "_cv"
    )

    # derive the id type from the input schema (ADVICE r11: a non-bigint
    # id column must not be silently cast through a hardcoded 'long')
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"probe_id {id_type}, {id_col} {id_type}, mmr_rank long, "
        f"relevance double, mmr_score double"
    )

    def _seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        cands = [
            (
                r[id_col],
                float(r["cosine"]),
                [float(x) for x in r["_cv"]],
            )
            for r in pdf.sort_values(id_col).to_dict("records")
        ]
        norms = {c[0]: math.sqrt(_seq_dot(c[2], c[2])) for c in cands}
        probe = pdf["probe_id"].iloc[0]
        selected: list[tuple] = []
        rows = []
        for step in range(min(m, len(cands))):
            best = None
            for cid, rel, vec in cands:
                if any(s[0] == cid for s in selected):
                    continue
                maxsim = 0.0
                for sid, _srel, svec in selected:
                    # zero-norm vectors get similarity 0.0 (ADVICE r11:
                    # match the NULL/NaN-tolerant SQL cosine paths instead
                    # of raising ZeroDivisionError mid-greedy-loop)
                    denom = norms[cid] * norms[sid]
                    sim = _seq_dot(vec, svec) / denom if denom else 0.0
                    if sim > maxsim:
                        maxsim = sim
                score = lam * rel - (1.0 - lam) * maxsim
                if best is None or score > best[0] or (
                    score == best[0] and cid < best[1]
                ):
                    best = (score, cid, rel, vec)
            selected.append((best[1], best[2], best[3]))
            rows.append((probe, best[1], step + 1, best[2], best[0]))
        return pd.DataFrame(
            rows,
            columns=["probe_id", id_col, "mmr_rank", "relevance", "mmr_score"],
        )

    return short.groupBy("probe_id").applyInPandas(greedy, out_schema)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 6,
    dim: int = 64,
    target_bucket: int = 250,
) -> DataFrame:
    """SemDeDup-style embedding-cluster dedup (r11): vectors whose cosine
    similarity reaches ``threshold`` are clustered (connected components)
    and each cluster keeps ONE representative — the min id. Returns one
    row per RETAINED vector: (id, n_members), n_members = its cluster's
    size (1 for non-duplicates). This is the embedding-space analogue of
    dedup_keep_representative: MinHash sees token overlap, this sees
    paraphrase/translation-grade semantic duplication.

    Scale shape — banded, never all-pairs: candidates come from the
    multi-table sign-LSH self-join (the knn_self_lsh corpus-vs-itself
    shape: explode to (table, bucket) keys, equi-join, no broadcast
    side), the exact-cosine verify runs only on candidate pairs
    (output-sized at tuned plane counts), and the components step is the
    contracting min-label propagation (dedup.cluster_min_label —
    duplicate-graph-sized, O(log D) squarings). Recall is bounded by LSH
    bucket recall exactly as in topk_cosine_lsh; raise n_tables for
    higher recall at linear candidate cost.

    n_planes=None (the default) derives the plane count from the corpus
    size (auto_planes — the same rule that keeps knn_self_lsh's
    candidate volume ~linear): a FIXED plane count certified at one
    scale makes per-table candidates n * n / 2^planes quadratic at the
    next. The one count() action is model-sized orchestration. Pass an
    explicit value to pin a certified setting (the registry oracle pins
    4: its embedded-plane SQL replay needs a static plane set).

    The verify cosine uses the sequential `_dot` (bit-reproducible), and
    the hyperplanes are the deterministic LCG `_planes` — so the WHOLE
    operator replays in an external engine (the registry oracle embeds
    the planes and recomputes banding + verify + components in SQL)."""
    from binance_data_framework_spark.operators.dedup import cluster_min_label

    if n_planes is None:
        n_planes = auto_planes(df.count(), target_bucket)
    planes_all = [
        _planes(dim, n_planes, seed=42 + 1000 * t) for t in range(n_tables)
    ]
    base = with_norm(df, vec_col).withColumn(
        "_tb", _lsh_buckets_udf(planes_all)(F.col("_v"))
    )
    # referenced by the screen (exploded) and both certify sides
    base = base.localCheckpoint(eager=False)
    expl = base.select(
        id_col, "_v", "_norm", F.posexplode("_tb").alias("_t", "_b")
    )

    # Per-bucket BLAS SCREEN (the knn_self_lsh blocked kernel crossed
    # with cosine_pairs_exact's screen+certify): each (table, bucket)
    # group is scored as chunked matmuls and emits only the (id_a, id_b)
    # pairs whose BLAS cosine clears threshold - margin — a strict
    # superset of the true pair set (the margin dominates BLAS-vs-
    # sequential float reassociation, ~1e-13 at these dims). Vectors
    # cross the wire once per table; the first formulation joined full
    # vectors onto every CANDIDATE pair and measured 316 s / ~120 GB of
    # pair-vector shuffle at 200k vectors — the screen emits bare id
    # pairs, output-sized plus boundary slack.
    floor = threshold - 1e-6

    def _bucket_screen(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []})
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        M = np.vstack(pdf["_v"].to_numpy())
        nr = pdf["_norm"].to_numpy()
        out_a, out_b = [], []
        chunk = 256
        for lo in range(0, len(ids), chunk):
            hi = min(lo + chunk, len(ids))
            with np.errstate(divide="ignore", invalid="ignore"):
                Cb = (M[lo:hi] @ M.T) / (nr[lo:hi, None] * nr[None, :])
            keep = (Cb >= floor) & (ids[lo:hi, None] < ids[None, :])
            bi, bj = np.nonzero(keep)
            if len(bi):
                out_a.append(ids[lo:hi][bi])
                out_b.append(ids[bj])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": []})
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    id_type = df.schema[id_col].dataType.simpleString()
    cand = (
        expl.groupBy("_t", "_b")
        .applyInPandas(_bucket_screen, f"id_a {id_type}, id_b {id_type}")
        .distinct()
    )

    # CERTIFY: survivors (output-sized) join their vectors back; the
    # final >= threshold decision is the sequential left-to-right `_dot`
    # — bit-identical to the oracle's list_sum fold, so the screen's
    # reduction order never decides membership.
    va = base.select(
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_norm").alias("_na"),
    )
    vb = base.select(
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .where(cos >= F.lit(threshold))
        .select("id_a", "id_b")
    )
    labels = cluster_min_label(pairs, df.select(id_col), id_col)
    return labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    ).select(F.col("cluster_id").alias(id_col), "n_members")


#: cosine_pairs_exact collects the probe side into a driver matrix — that
#: is only probe-sized if the caller's probe_filter is actually narrow. A
#: broad filter would silently build an O(probes x dim) driver array, so
#: past this cap the collect raises instead (mirrors
#: AnnIndexStore.APPEND_PROBE_MAX's bounded-collect contract,
#: VERDICT r10 "What's wrong" #4).
PAIRS_PROBE_MAX = 65_536


def cosine_pairs_exact(
    df: DataFrame,
    probe_filter: Column,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    screen_margin: float = 1e-6,
    probe_max: int = PAIRS_PROBE_MAX,
) -> DataFrame:
    """EXACT threshold cosine pairs (probe x corpus, id_b > id_a) with a
    BLAS screen: returns (id_a, id_b, cosine) where cosine is the
    bit-reproducible sequential `_dot` value and cosine >= threshold —
    output-identical to the pure-HOF broadcast-join formulation (and to a
    DuckDB list-lambda oracle), at a fraction of its cost.

    Phase 1 (screen): the probe matrix (probe-sized — same class as the
    broadcast the HOF form ships) rides into a mapInPandas over the
    candidate side; each Arrow batch is ONE BLAS matmul and emits only
    the (id_a, id_b) pairs whose BLAS cosine clears
    ``threshold - screen_margin``. The margin dominates the worst-case
    difference between BLAS and sequential float64 summation at these
    dims (~1e-13), so the screen is a strict superset of the true result;
    near-threshold pairs are the only extras and they are output-sized.
    Phase 2 (certify): the surviving pairs — output-sized, not
    probes x corpus — join their vectors back and the final cosine is
    recomputed with the sequential left-to-right `_dot`, so reported
    values and the threshold decision are exactly the HOF form's.

    Why not pure HOF: the interpreted aggregate-lambda dot evaluates
    probes x corpus x dim lambda steps (measured 237 s for 200 x 200k x 64
    at the 100x fixture); the screen does the identical flops in BLAS
    (~2.6 GFLOP, sub-second) and leaves Python/HOF work proportional to
    the OUTPUT. Scale shape: one narrow candidate scan, no shuffle until
    the output-sized certify join."""
    base = with_norm(df, vec_col)
    probe_rows = (
        base.where(probe_filter)
        .select(id_col, "_v", "_norm")
        .limit(probe_max + 1)
        .collect()
    )
    if len(probe_rows) > probe_max:
        raise ValueError(
            f"cosine_pairs_exact: probe_filter matched more than "
            f"{probe_max} rows — the probe side is collected to the "
            f"driver and must stay probe-sized. Narrow the filter or "
            f"raise probe_max explicitly."
        )
    if not probe_rows:
        # np.array([]) would be shape (0,), not (0, dim), and every screen
        # task would crash on M @ P.T (ADVICE r6) — zero probes is simply
        # an empty result
        return df.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)
    pid = np.array([r[id_col] for r in probe_rows])
    P = np.array([list(r["_v"]) for r in probe_rows], dtype=np.float64)
    pn = np.array([r["_norm"] for r in probe_rows], dtype=np.float64)
    floor = threshold - screen_margin
    id_type = df.schema[id_col].dataType.simpleString()

    def screen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            M = np.vstack(pdf["_v"].to_numpy())
            nr = pdf["_norm"].to_numpy()
            with np.errstate(divide="ignore", invalid="ignore"):
                C = (M @ P.T) / (nr[:, None] * pn[None, :])
            keep = (C >= floor) & (ids[:, None] > pid[None, :])
            bi, pi = np.nonzero(keep)
            if len(bi):
                yield pd.DataFrame({"id_a": pid[pi], "id_b": ids[bi]})

    cand_pairs = base.select(id_col, "_v", "_norm").mapInPandas(
        screen, f"id_a {id_type}, id_b {id_type}"
    )
    probes = base.where(probe_filter).select(
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_pv"),
        F.col("_norm").alias("_pn"),
    )
    cand = base.select(
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_cv"),
        F.col("_norm").alias("_cn"),
    )
    exact_cos = _dot(F.col("_pv"), F.col("_cv")) / (F.col("_pn") * F.col("_cn"))
    return (
        cand_pairs.join(cand, on="id_b")
        .join(broadcast(probes), on="id_a")
        .withColumn("cosine", exact_cos)
        .where(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# all-pairs k-NN self-join (the corpus-vs-itself companion to topk_cosine_*)
# ---------------------------------------------------------------------------


def auto_planes(n: int, target_bucket: int = 250) -> int:
    """Plane count that keeps expected LSH bucket occupancy ~target_bucket
    at corpus size n: ceil(log2(n / target_bucket)), clamped to [2, 16].
    Candidate volume per table is ~n * n / 2^planes, so this is what makes
    the all-pairs self-join ~linear in n instead of quadratic."""
    return max(2, min(16, math.ceil(math.log2(max(n, 2) / target_bucket))))


def auto_centroids(n: int, target_cell: int = 100_000) -> int:
    """IVF centroid count that keeps expected cell occupancy ~target_cell
    at corpus size n — the auto_planes rule applied to the index tier. A
    FIXED n_centroids certified at one scale means cell size (and so the
    candidate volume of every nprobe-cell search) grows linearly with the
    corpus — at 10^10 vectors a pinned 16 makes 4 probed cells read 2.5B
    codes. Deriving it from n bounds per-cell candidates, which is what
    makes committed-index search O(probed cells), not O(corpus).

    The occupancy target is deliberately ~400x auto_planes' bucket
    target: per-BUCKET cost is quadratic in occupancy (the LSH self-join
    scores pairs), so buckets must stay small; per-CELL cost is linear
    (an ADC scan of 8-16 B codes), so the target is sized by IO
    granularity instead — ~100k codes ≈ a 1-2 MB cell file. Measured at
    the 2M-vector fixture (BENCH_SCALING ann_ops, r7): target_cell=2000
    (1000 cells) made build/append/delete/purge 1.5-4x SLOWER paying a
    1000-way partitioned write + 62x assign flops while search did not
    improve — probed candidate volume only dominates search beyond
    fixture scale; at 100k the rule resolves to the certified 16 at
    every current fixture and bites exactly when cells outgrow their IO
    sweet spot. Clamped to [16, 65536] (a 65k x dim float centroid model
    is the most the flat k-means collect should carry — past that the
    training wants hierarchical / sharded k-means) and to n itself."""
    return max(1, min(n, min(65536, max(16, math.ceil(n / target_cell)))))


def knn_lsh_assign(
    df: DataFrame,
    n_planes: int,
    n_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """The corpus-stable HALF of the all-pairs kNN self-join
    (VERDICT r8 #4 — the train-once story applied to the kNN tier):
    (id, _v double[], _norm, _t, _b) — every vector's norm and its
    multi-table LSH bucket assignment, exploded to n x n_tables rows.
    For a static corpus this never changes between runs, so persist it
    BUCKETED by (_t, _b) (sources/bucketed.write_bucketed semantics):
    a later knn_self_lsh(assigned=...) then starts from a scan whose
    physical partitioning already satisfies the per-bucket grouping —
    no plane projection, no explode, and crucially NO shuffle of the
    n x n_tables vector rows (the dominant data movement at 2M+
    vectors). Plane seeds are fixed (42 + 1000*t), so the assignment —
    and therefore the kNN result — is bit-identical to the in-plan
    path."""
    planes_all = [
        _planes(dim, n_planes, seed=42 + 1000 * t) for t in range(n_tables)
    ]
    buckets = _lsh_buckets_udf(planes_all)
    base = with_norm(df, vec_col).withColumn("_tb", buckets(F.col("_v")))
    return base.select(
        id_col, "_v", "_norm", F.posexplode("_tb").alias("_t", "_b")
    )


def knn_self_lsh(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 6,
    dim: int = 64,
    target_bucket: int = 250,
    assigned: DataFrame | None = None,
    n: int | None = None,
) -> DataFrame:
    """Approximate all-pairs k-NN: every vector gets its k nearest
    neighbors (cosine) — the self-join form used for embedding-cluster
    dedup and graph building, where `topk_cosine_*`'s probe-vs-corpus
    shape doesn't apply (there is no small probe side to broadcast).

    Scale shape — BLOCKED, not pair-exploded: each (table, bucket) group
    is scored as ONE BLAS matmul inside applyInPandas, so every vector
    crosses the wire once per table (n x n_tables rows), never once per
    candidate pair. The earlier formulation (bucket self-join -> distinct
    pair ids -> per-pair vector join -> Arrow dot) was measured
    superlinear at 100x corpus (378x wall-clock: ~470M pair rows through
    a distinct plus ~240 GB of per-pair vector movement); the blocked
    form moves ~1 GB at the same scale and does the identical flops in
    BLAS. Per-bucket top-k with (cosine desc, id asc) tie-breaks is
    provably output-identical to global-top-k-over-all-candidates: any
    pair in the global candidate top-k is in the top-k of every bucket
    containing it. Bucket size is bounded by auto_planes below; skewed
    natural clusters are the LSH-tuning concern (raise n_planes), not a
    shuffle concern.

    n_planes=None (the default) derives the plane count from the corpus
    size: ceil(log2(n / target_bucket)), clamped to [2, 16]. Candidate
    work per table is ~n * bucket_size = n * n/2^planes — a FIXED plane
    count certified at one scale goes quadratic at the next (3 planes,
    tuned for ~250-vector buckets at 2k vectors, means 2.5k-vector
    buckets and ~50M raw candidates per table at 20k — the auto rule
    picks 7 planes there, ~156-vector buckets, ~3M per table; ratio
    measured in BENCH_SCALING.json). Deriving planes from n keeps bucket
    occupancy ~constant, so
    candidate volume scales ~linearly with the corpus; the one count()
    action is model-sized orchestration, same class as the IVF centroid
    collect. Pass an explicit n_planes to pin a certified setting.

    ``assigned`` (VERDICT r8 #4): a PERSISTED assignment table from
    knn_lsh_assign — typically (_t, _b)-bucketed (sources/bucketed) —
    replaces the count/plane-derivation/projection/explode front half
    entirely; with bucket metadata the per-bucket grouping below runs
    with NO exchange (the scan already clusters on the keys). ``n`` (the
    corpus size, known to whoever built the table) is required with it:
    it sizes the collapse memory strategy. The scoring kernel and the
    collapse are byte-identical in both paths."""
    if assigned is not None:
        if n is None:
            raise ValueError("assigned requires n (the corpus size)")
        exploded = assigned.select(id_col, "_v", "_norm", "_t", "_b")
        id_type = assigned.schema[id_col].dataType.simpleString()
    else:
        n = df.count()  # model-sized action; also sizes collapse strategy
        if n_planes is None:
            n_planes = auto_planes(n, target_bucket)
        # no checkpoint: unlike the probe paths, this plan consumes the
        # assignment exactly once, so a checkpoint would only add a full
        # corpus materialization
        exploded = knn_lsh_assign(df, n_planes, n_tables, id_col, vec_col, dim)
        id_type = df.schema[id_col].dataType.simpleString()

    def _bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        # Blocked per-bucket scoring: BLAS matmuls in row CHUNKS so peak
        # memory is O(chunk x bucket) even for pathological buckets (a
        # natural duplicate clique hashes identically under EVERY
        # hyperplane, so no plane count can split it); argpartition keeps
        # the per-row top-k in O(m) instead of a full m-wide sort. The
        # selected set always contains every pair of the global candidate
        # top-k (selection is by value); exact ties at the k boundary are
        # broken (cosine desc, id asc) explicitly below, so the output is
        # independent of group row order.
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if len(pdf) < 2:
            return empty
        # id-ascending row order makes the stable tie-break sort below mean
        # "lowest id wins" regardless of the (unspecified) order Spark hands
        # the group rows in (ADVICE r5)
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        M = np.vstack(pdf["_v"].to_numpy())
        nr = pdf["_norm"].to_numpy()
        take = min(k, len(ids) - 1)
        out_a, out_b, out_c = [], [], []
        chunk = 256
        for lo in range(0, len(ids), chunk):
            hi = min(lo + chunk, len(ids))
            Cb = (M[lo:hi] @ M.T) / (nr[lo:hi, None] * nr[None, :])
            # mask self-similarity by ID (row-index diagonal masking would
            # miss duplicate-id rows -> self-loops in the output graph)
            Cb[ids[lo:hi, None] == ids[None, :]] = -np.inf
            sel = np.argpartition(-Cb, take - 1, axis=1)[:, :take]
            vals = np.take_along_axis(Cb, sel, axis=1)
            # argpartition picks ARBITRARILY among exact ties at the k
            # boundary (and duplicate-vector cliques — the primary dedup
            # workload — are all exact ties), which would make the selected
            # neighbor SET depend on group row order. Detect boundary-tied
            # rows (more candidates >= the k-th value than fit) and re-select
            # those rows with a stable value sort: columns are id-ascending,
            # so stable = (cosine desc, id asc) — order-independent
            # (ADVICE r5).
            thresh = vals.min(axis=1)
            with np.errstate(invalid="ignore"):  # NaN rows compare False
                amb = (Cb >= thresh[:, None]).sum(axis=1) > take
            if amb.any():
                order = np.argsort(-Cb[amb], axis=1, kind="stable")[:, :take]
                sel[amb] = order
                vals[amb] = np.take_along_axis(Cb[amb], order, axis=1)
            ok = np.isfinite(vals)  # drops masked selfs and zero-norm NaNs
            rows = np.repeat(ids[lo:hi], take).reshape(hi - lo, take)
            out_a.append(rows[ok])
            out_b.append(ids[sel][ok])
            out_c.append(vals[ok])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    cands = exploded.groupBy("_t", "_b").applyInPandas(
        _bucket_topk, f"id_a {id_type}, id_b {id_type}, cosine double"
    )

    # candidate volume is bounded by construction at n x k x n_tables — a
    # size the caller KNOWS, so the collapse picks its memory strategy on
    # a measured bound instead of guessing
    return collapse_pair_topk(cands, k, id_type, candidate_rows=n * k * n_tables)


#: candidate volumes below this take collapse_pair_topk's one-shot
#: partition-concat path: at 8M rows x ~40 B over >= 32 hash partitions
#: the per-partition pandas frame is ~10 MB — nowhere near executor
#: memory — and the spillable-sort streaming path's fixed cost (an extra
#: in-partition JVM sort) is pure overhead at that size (measured +0.5 s
#: on the 10k-vector sweep entries)
_COLLAPSE_STREAM_THRESHOLD = 8_000_000


def collapse_pair_topk(
    cands: DataFrame,
    k: int,
    id_type: str,
    candidate_rows: int | None = None,
) -> DataFrame:
    """Collapse multi-table candidate pairs (id_a, id_b, cosine) to one row
    per pair (max cosine — per-bucket BLAS results can differ in the last
    ulp) and keep each source's top-k by (cosine desc, id_b asc), ranked.

    One id_a-keyed exchange + an Arrow kernel — NOT groupBy(id_a,
    id_b).max + a row_number window: that form pays a JVM hash aggregate
    producing one group per surviving pair (the measured 33 s / 27M-row
    shape from the r7 token-count work — candidate rows here are
    n x k x n_tables) plus a SECOND exchange for the window's id_a
    clustering. The kernel does the same dedup + rank as two stable
    vector sorts; hash-partitioning on id_a alone co-locates every
    (id_a, id_b) row.

    Memory strategy is SIZE-GATED on ``candidate_rows`` (the caller's
    known bound; ADVICE r7 #2 + the broadcast-gate lesson):

    - bounded small (< _COLLAPSE_STREAM_THRESHOLD): one-shot per-partition
      concat — per-partition pandas memory is candidate_rows /
      shuffle_partitions, provably tiny at this size, and it skips the
      streaming path's extra JVM sort (+0.5 s at the 10k-vector scale);
    - large or UNKNOWN (None): the exchange is followed by
      sortWithinPartitions(id_a) — a SPILLABLE JVM sort — so every id_a
      group arrives contiguous in the Arrow batch stream and the kernel
      holds only the current batch plus the one group straddling its
      boundary: peak Python memory is O(arrow_batch + largest id_a
      group), and a group is bounded at ~k x n_tables rows regardless of
      corpus size.

    Both paths are row-identical to the agg+window form (stable sort ->
    first row per pair is its max; positional index per id_a run ->
    row_number) and to each other — pinned by pytest on adversarial
    inputs (cross-partition duplicates, ulp-split pairs, k-boundary
    ties, groups straddling Arrow batches)."""
    small = (
        candidate_rows is not None
        and candidate_rows < _COLLAPSE_STREAM_THRESHOLD
    )

    def _collapse(batches):
        def _emit(pdf):
            pdf = pdf.sort_values(
                ["id_a", "id_b", "cosine"],
                ascending=[True, True, False],
                kind="mergesort",
            ).drop_duplicates(["id_a", "id_b"], keep="first")
            pdf = pdf.sort_values(
                ["id_a", "cosine", "id_b"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            rank = pdf.groupby("id_a", sort=False).cumcount().to_numpy() + 1
            keep = rank <= k
            out = pdf.loc[keep, ["id_a", "id_b", "cosine"]]
            return out.assign(rank=rank[keep])

        if small:
            chunks = [c for c in batches if len(c)]
            if chunks:
                yield _emit(pd.concat(chunks, ignore_index=True))
            return
        carry = None  # trailing (possibly incomplete) id_a group
        for b in batches:
            if not len(b):
                continue
            if carry is not None:
                b = pd.concat([carry, b], ignore_index=True)
            # input is sorted by id_a within the partition, so only the
            # LAST id_a value can continue into the next batch; everything
            # before it is a complete group — flush it now
            last = b["id_a"].iloc[-1]
            pending = b["id_a"].to_numpy() == last
            done = b[~pending]
            carry = b[pending]
            if len(done):
                yield _emit(done)
        if carry is not None and len(carry):
            yield _emit(carry)

    shuffled = cands.repartition("id_a")
    if not small:
        shuffled = shuffled.sortWithinPartitions("id_a")
    return shuffled.mapInPandas(
        _collapse,
        f"id_a {id_type}, id_b {id_type}, cosine double, rank bigint",
    )
