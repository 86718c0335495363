"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and random-hyperplane
LSH and IVF variants as the scale paths. All vector math runs as
Arrow-batched numpy with FOLD-EXACT numerics (see the block comment
above :func:`_fold`), bit-identical to the sequential fold the SQL
oracles replay. The Column higher-order-function forms of the same math
are the reference the kernels are pinned against
(``tests/oracle_ref.py``).

Scale notes:
* brute-force single query: the query vector ships inside the UDF
  closure — a pure map over the table, no shuffle, then a top-k reduce
  (``orderBy().limit(k)`` → Spark's TakeOrderedAndProject, which keeps
  only k rows per partition).
* multi-query: the (small) query set ships the same way; each Arrow
  batch scores every query and keeps only its own top-k per query, so
  the final rank window sees ≤ k·batches rows per query.
* LSH: bucket by sign-bits against deterministic hyperplanes; same-bucket
  scan shrinks the scored set ~2^planes-fold at some recall cost (probe
  neighboring buckets to recover recall).
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf


# --------------------------------------------------------------------------
# FOLD-EXACT Arrow kernels
#
# Spark evaluates higher-order-function lambdas (aggregate/zip_with/
# transform) interpreted, per row, never inside WholeStageCodegen (~130 ns
# per fused multiply-add). On per-PAIR verify relations (LSH candidates —
# potentially orders of magnitude more rows than the table) that
# dominated the stage: the semantic-dedup hot-cluster bench twin spent
# ~50 s of its 72 s wall in HOF cosine over ~30M candidates. Unrolling
# the fold into plain Column expressions does NOT fix it: at dim 64 the
# generated Java exceeds Janino's 64 KB method limit inside the
# Generate/join consume ("Failed to compile the generated Java code"),
# Spark falls back to interpreted eval, and a 4096-node interpreted tree
# is ~3× SLOWER than the HOF loop (measured).
#
# So every vector operator uses Arrow-batched pandas UDFs with one
# crucial property: the numpy code VECTORIZES OVER ROWS but FOLDS
# SEQUENTIALLY OVER DIMENSIONS (``acc = acc + A[:, i] * B[:, i]`` starting
# from 0.0), so every scalar result is produced by the exact IEEE op
# sequence of the HOF fold. No np.dot/matmul (those reassociate or
# pairwise-sum and drift in the last ulp) — the SQL-oracle replays
# (DuckDB list_reduce, also a sequential fold) stay hash-identical.
# --------------------------------------------------------------------------


def _stack_vectors(v: pd.Series, fn: str, dim: int) -> np.ndarray:
    """One Arrow batch of an array column as a rows×dim float64 matrix.
    A null vector, or one whose width is not ``dim``, raises a named
    ``ValueError``: ``np.stack`` would fail on either with an opaque
    shape error, and a uniformly wider batch would fold only its first
    ``dim`` elements and return a wrong score."""
    if v.isna().any():
        raise ValueError(f"{fn}: null embedding vector")
    if len(v) == 0:
        return np.zeros((0, dim))
    try:
        M = np.stack(v.to_numpy()).astype("float64", copy=False)
    except ValueError:
        raise ValueError(
            f"{fn}: expected vectors of width {dim}, got mixed widths"
        ) from None
    if M.shape[1] != dim:
        raise ValueError(
            f"{fn}: expected vectors of width {dim}, got {M.shape[1]}"
        )
    return M


def _fold(M: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """``M @ Q`` (rows×dim by dim×k) folded sequentially over dims."""
    acc = np.zeros((M.shape[0], Q.shape[1]))
    for i in range(M.shape[1]):
        acc = acc + M[:, i : i + 1] * Q[i : i + 1, :]
    return acc


def _fold_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot products of two rows×dim matrices, folded over dims."""
    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return acc


def _query_matrix(vectors: Sequence[Sequence[float]], fn: str, what: str):
    """Driver-side query (or centroid) vectors as a dim×k float64 matrix
    and their norms. A zero-norm vector raises: every cosine against it
    divides by zero, which the Column form raises as DIVIDE_BY_ZERO under
    ANSI mode (the session default)."""
    Q = np.array(vectors, dtype="float64")
    qn = np.sqrt(_fold_rows(Q, Q))
    if not qn.all():
        raise ValueError(f"{fn}: zero-norm {what} vector")
    return Q.T, qn


def _cosines(M: np.ndarray, Q: np.ndarray, qn: np.ndarray, fn: str):
    """rows×k cosines of M's rows to Q's columns (norms ``qn``). A
    zero-norm row raises, as for the query side."""
    nrm = _fold_rows(M, M)
    if not nrm.all():
        raise ValueError(f"{fn}: zero-norm embedding vector")
    return _fold(M, Q) / (np.sqrt(nrm)[:, None] * qn[None, :])


def pair_dot_pandas(dim: int):
    """Arrow-batched dot product of two non-null ``dim``-width array
    columns, fold-exact; returns double. ~dim SIMD ops per Arrow batch
    instead of ~450 interpreted expression nodes per row."""

    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            _fold_rows(
                _stack_vectors(a, "pair_dot_pandas", dim),
                _stack_vectors(b, "pair_dot_pandas", dim),
            )
        )

    return _dot


def query_cosine_pandas(query_vec: Sequence[float]):
    """Arrow-batched cosine of a vector column to one query vector,
    fold-exact. This is the brute-force scan's hot path: at 10⁹ rows per
    query the interpreted HOF fold costs ~8 µs/row; the Arrow fold is
    ~dim SIMD ops per batch."""
    Q, qn = _query_matrix([query_vec], "query_cosine_pandas", "query")
    dim = Q.shape[0]

    @pandas_udf("double")
    def _score(v: pd.Series) -> pd.Series:
        M = _stack_vectors(v, "query_cosine_pandas", dim)
        return pd.Series(_cosines(M, Q, qn, "query_cosine_pandas")[:, 0])

    return _score


def band_buckets_pandas(
    planes: int, bands: int, seed: int, dim: int
):
    """Array of ``bands`` band-bucket ids per vector (OR-construction):
    the deterministic LCG plane set splits into ``bands`` contiguous
    groups; each band's id packs that group's sign bits (bit j = plane
    ``b*per + j``). Two vectors are LSH candidates when ANY band id
    matches — band collision probability (1-θ/π)^(planes/bands) per band,
    so recall rises with ``bands`` while candidate volume stays bounded
    by the per-band bit width. The projections are fold-exact, and the
    per-batch cost is ~``dim`` numpy ops regardless of ``planes`` — which
    is what makes fine (8-12 bit) bands affordable, and fine bands are
    what keep same-bucket candidate groups small on dense embedding
    regions."""
    if planes % bands:
        raise ValueError("planes must divide evenly into bands")
    per = planes // bands
    P = np.array(_hyperplanes(dim, planes, seed), dtype="float64").T
    shifts = np.arange(per, dtype="int64")

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        M = _stack_vectors(v, "band_buckets_pandas", dim)
        bits = (_fold(M, P) > 0).astype("int64").reshape(len(M), bands, per)
        return pd.Series(list((bits << shifts).sum(axis=2)))

    return _buckets


def cosine_topk(
    emb_df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to one query vector: (id, sim) — map + top-k
    reduce, zero shuffles, scored by :func:`query_cosine_pandas`; vectors
    must be non-null and match the query's width.

    Crossover note (measured): the Arrow scan carries ~0.4 s of fixed
    Python-worker roundtrip per query, so below ~10⁶ rows an interpreted
    Column fold is faster wall-clock locally (0.17 s vs 0.59 s on 16k
    rows); per-row the Arrow fold is ~100× cheaper, which is what
    matters for the brute-force scan this function exists for."""
    scored = emb_df.select(
        F.col(id_col), query_cosine_pandas(query_vec)(F.col(vec_col)).alias("sim")
    )
    return scored.orderBy(F.desc("sim"), F.col(id_col)).limit(k)


def cosine_topk_multi(
    emb_df: DataFrame,
    queries: Sequence,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query exact top-k: (q_id, id, sim, rank). ``queries`` is a
    small driver-side list of ``(q_id, vector)`` pairs.

    Two things make this the 100 TB path: (1) scoring is ONE Arrow
    stage — every batch scores all queries against all its rows,
    fold-exact, so no q×n row explosion ever materializes in the plan;
    (2) each batch emits only its own top-k per query, so the final
    exact window ranks ≤ k·batches rows instead of q×n (top-k of
    per-batch top-ks contains the global top-k for any batch
    boundaries)."""
    q_ids = [q[0] for q in queries]
    Q, qn = _query_matrix([q[1] for q in queries], "cosine_topk_multi", "query")
    dim = Q.shape[0]

    def score(batches):
        for pdf in batches:
            M = _stack_vectors(pdf[vec_col], "cosine_topk_multi", dim)
            sims = _cosines(M, Q, qn, "cosine_topk_multi")
            ids = pdf[id_col].to_numpy()
            out_q, out_id, out_s = [], [], []
            kk = min(k, len(M))
            for qi, q_id in enumerate(q_ids):
                s = sims[:, qi]
                # top-k by (sim desc, id asc) — same tiebreak as the
                # window. Spark's desc ordering treats NaN as LARGEST
                # (a NaN element scores NaN), while numpy sorts NaN last
                # either sign — map NaN to -inf on the negated key so it
                # sorts first for any batch boundaries.
                key = np.where(np.isnan(s), -np.inf, -s)
                order = np.lexsort((ids, key))[:kk]
                out_q.extend([q_id] * len(order))
                out_id.extend(ids[order])
                out_s.extend(s[order])
            yield pd.DataFrame(
                {"q_id": out_q, id_col: out_id, "sim": out_s}
            )

    qid_type = "string" if isinstance(q_ids[0], str) else "long"
    id_type = emb_df.schema[id_col].dataType.simpleString()
    scored = emb_df.select(id_col, vec_col).mapInPandas(
        score, schema=f"q_id {qid_type}, {id_col} {id_type}, sim double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------------------
# Random-hyperplane LSH
# --------------------------------------------------------------------------


def _hyperplanes(dim: int, planes: int, seed: int) -> List[List[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (pure python LCG —
    reproducible across sessions/machines, no numpy RNG state)."""
    out: List[List[float]] = []
    state = seed & 0x7FFFFFFF or 1
    for _ in range(planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            # map to (-1, 1)
            row.append(2.0 * state / float(1 << 31) - 1.0)
        out.append(row)
    return out


def ann_lsh_topk(
    emb_df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane bucket is
    within ``probe_hamming`` bits of the query's bucket (multi-probe).

    The bucket column would be precomputed/persisted in a real pipeline
    (write-once per table); then each query touches ~(1+planes)/2^planes
    of the data. The bucket is :func:`band_buckets_pandas` with one band,
    whose bit i is plane i's sign bit — the same packing as the
    driver-side query bucket below.
    """
    dim = len(query_vec)
    hp = _hyperplanes(dim, planes, seed)
    qbucket = 0
    for i, plane in enumerate(hp):
        if sum(a * b for a, b in zip(query_vec, plane)) > 0:
            qbucket |= 1 << i
    with_bucket = emb_df.withColumn(
        "__bucket",
        F.element_at(
            band_buckets_pandas(planes=planes, bands=1, seed=seed, dim=dim)(
                F.col(vec_col)
            ),
            1,
        ),
    )
    cand = with_bucket.filter(
        F.bit_count(F.col("__bucket").bitwiseXOR(F.lit(qbucket))) <= probe_hamming
    )
    scored = cand.select(
        F.col(id_col), query_cosine_pandas(query_vec)(F.col(vec_col)).alias("sim")
    )
    return scored.orderBy(F.desc("sim"), F.col(id_col)).limit(k)


def ivf_index(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
):
    """IVF coarse quantizer: k-means centroids + per-vector list
    assignment (the classic inverted-file ANN layout).

    Build ONCE per table (like the hyperplane buckets, the ``list_id``
    column would be persisted — e.g. as an Iceberg partition/bucket — so
    queries prune to probed lists at the scan). Returns
    (centroids: List[List[float]], assigned: DataFrame + list_id).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb_df.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__features"),
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="__features",
                predictionCol="list_id")
    model = km.fit(feat)
    assigned = model.transform(feat).select(id_col, vec_col, "list_id")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return centroids, assigned


def ivf_assign(
    emb_df: DataFrame,
    centroids: List[List[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """List assignment against FIXED centroid literals: list_id = argmax
    cosine (first index on exact ties). One Arrow UDF scores every
    centroid, fold-exact — no fit, no shuffle — so the assignment is a
    pure deterministic function of (vector, centroids) that an external
    SQL oracle can replay exactly; use :func:`ivf_index` when you want
    learned (k-means) centroids instead. Same persistence story: write
    list_id once per table."""
    C, cn = _query_matrix(centroids, "ivf_assign", "centroid")
    dim = C.shape[0]

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        sims = _cosines(_stack_vectors(v, "ivf_assign", dim), C, cn, "ivf_assign")
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    return emb_df.select(
        F.col(id_col), F.col(vec_col), _assign(F.col(vec_col)).alias("list_id")
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: List[List[float]],
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN query against an IVF index: rank centroids driver-side (tiny),
    scan only the ``n_probe`` nearest lists, exact cosine rerank inside.

    With list_id as a partition column the probe filter becomes partition
    pruning — each query touches ~n_probe/n_lists of the data."""
    C, cn = _query_matrix(centroids, "ivf_topk", "centroid")
    sims = _cosines(np.array([query_vec], dtype="float64"), C, cn, "ivf_topk")
    # stable sort: equal scores keep the lower list id first
    probe = np.argsort(-sims[0], kind="stable")[:n_probe].tolist()
    cand = assigned.filter(F.col("list_id").isin(probe))
    scored = cand.select(
        F.col(id_col), query_cosine_pandas(query_vec)(F.col(vec_col)).alias("sim")
    )
    return scored.orderBy(F.desc("sim"), F.col(id_col)).limit(k)
