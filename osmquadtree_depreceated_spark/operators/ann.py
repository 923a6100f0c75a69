"""Similarity search over embedding columns.

Brute-force cosine top-k is the correctness baseline (and the oracle shape);
the scale path partitions candidates by an LSH bucket (random-hyperplane
sign bits) so each query only scans matching buckets.  Both produce
(query_id, rank, neighbor_id).

Design for 100 TB: queries are a small broadcast matrix; candidates stream
through mapInPandas as Arrow batches and each batch emits only its local
top-k (a combiner), so the final shuffle carries k rows per (query, batch)
— never the full candidate set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window


def ivf_topk(queries: DataFrame, candidates: DataFrame, k: int,
             n_centroids: int = 32, n_probe: int = 6,
             kmeans_iters: int = 8, sample_mod: int = 1, seed: int = 17,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "vec_id") -> DataFrame:
    """IVF approximate top-k: coarse k-means centroids partition the
    candidate space; each query probes only its `n_probe` nearest cells and
    runs the exact cosine there.

    Scale shape: centroids train on a DETERMINISTIC driver sample (id %
    sample_mod == 0, capped — O(sample) driver memory); assignment is one
    Arrow map pass (no shuffle: the probe filter is a broadcast semi-join
    on the cell id); within-cell scoring reuses the local-top-k combiner,
    so the final shuffle carries k rows per (query, batch).  Recall is
    probabilistic (tested against cosine_topk in pytest); raising n_probe
    to n_centroids degrades gracefully to exact.
    """
    C = train_ivf_centroids(candidates, n_centroids, kmeans_iters,
                            sample_mod, seed, id_col, vec_col)
    qrows = queries.select(qid_col, vec_col).collect()
    if C is None:  # empty/over-thinned sample: nothing to index
        spark = candidates.sparkSession
        return spark.createDataFrame(
            [], "query_id long, rank int, neighbor_id long"
        )

    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = qmat / np.maximum(
        np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12
    )
    nprobe = min(n_probe, len(C))
    probes = np.argsort(-(qnorm @ C.T), axis=1)[:, :nprobe]
    # (n_centroids x n_q) membership table: probe_mask[c, j] == True iff
    # query j probes centroid c.  One numpy index per query replaces the
    # per-candidate Python `in`-set loop in the hot kernel.
    probe_mask = np.zeros((len(C), len(qids)), dtype=bool)
    for j in range(len(qids)):
        probe_mask[probes[j], j] = True

    # centroids + probe lists ship with the task closure (tiny); at
    # production scale the assignment column materializes once per table
    # and the probe filter becomes a partition-prunable equi-join on it
    out_schema = "query_id long, neighbor_id long, cos double"

    def _score(it):
        for pdf in it:
            ids = pdf[id_col].to_numpy(np.int64)
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                               1e-12)
            matn = mat / norms
            cents = (matn @ C.T).argmax(axis=1)
            sims = matn @ qnorm.T  # (n_cand, n_q)
            batch_mask = probe_mask[cents]  # (n_cand, n_q), pure numpy
            for j, qid in enumerate(qids):
                sel = batch_mask[:, j]
                if not sel.any():
                    continue
                col = sims[sel, j]
                cids = ids[sel]
                kk = min(k + 1, len(cids))
                part = np.argpartition(-col, kk - 1)
                boundary = col[part[kk - 1]]
                head = np.nonzero(col >= boundary)[0]
                hsel = head[np.lexsort((cids[head], -col[head]))[:kk]]
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": cids[hsel],
                     "cos": col[hsel]}
                )

    local = candidates.mapInPandas(_score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def cosine_topk(queries: DataFrame, candidates: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest candidate
    vectors by cosine similarity (descending), ties broken by candidate id
    ascending; self-matches (equal ids) excluded.

    queries is collected to a broadcast matrix (small by contract); each
    Arrow batch of candidates computes a vectorized float64 matmul and emits
    its local top-k, then one narrow window selects the global top-k.
    """
    qrows = queries.select(qid_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    out_schema = "query_id long, neighbor_id long, cos double"

    def _topk_batches(it):
        for pdf in it:
            ids = pdf[id_col].to_numpy(np.int64)
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (mat / norms) @ qnorm.T  # (n_cand, n_q)
            n = len(ids)
            kk = min(k + 1, n)  # +1 headroom for self-match removal
            for j, qid in enumerate(qids):
                col = sims[:, j]
                # tie-break INSIDE the combiner too: argpartition keeps an
                # arbitrary subset when >kk candidates tie exactly at the
                # boundary cosine (realistic with scaled-duplicate vectors),
                # which could drop a lower-id neighbor before the global
                # window applies its (cos desc, id asc) rule.  Widen the cut
                # to every row tied with the kk-th value, then lexsort just
                # that (normally tiny) head — O(n) stays the common case.
                part = np.argpartition(-col, kk - 1)
                boundary = col[part[kk - 1]]
                head = np.nonzero(col >= boundary)[0]
                hsel = head[np.lexsort((ids[head], -col[head]))[:kk]]
                idx = hsel
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[idx],
                        "cos": col[idx],
                    }
                )

    local = candidates.mapInPandas(_topk_batches, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def train_ivf_centroids(candidates: DataFrame, n_centroids: int = 32,
                        kmeans_iters: int = 8, sample_mod: int = 1,
                        seed: int = 17, id_col: str = "vec_id",
                        vec_col: str = "embedding"):
    """Spherical k-means centroids from a deterministic bounded driver
    sample (id % sample_mod == 0, capped 50k — O(sample) driver memory).
    Returns a float64 ndarray (n_centroids x dim), unit rows."""
    srows = (
        candidates.filter(F.col(id_col) % sample_mod == 0)
        .select(vec_col).limit(50000).collect()
    )
    if not srows:
        return None
    X = np.array([r[0] for r in srows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = Xn[rng.choice(len(Xn), size=min(n_centroids, len(Xn)),
                      replace=False)]
    for _ in range(kmeans_iters):
        assign = (Xn @ C.T).argmax(axis=1)
        for j in range(len(C)):
            m = assign == j
            if m.any():
                v = Xn[m].sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    C[j] = v / n
    return C


def ivf_assign(candidates: DataFrame, C,
               vec_col: str = "embedding",
               cell_col: str = "ivf_cell") -> DataFrame:
    """Materialize the IVF assignment column: nearest centroid per row
    (one Arrow pass, no shuffle).  At production scale this column is
    written INTO the table (partitionBy(ivf_cell) / Iceberg identity
    transform) so probe joins prune partitions — the pattern
    plans/partitioned.py implements for spatial cells."""
    Cb = np.ascontiguousarray(C)

    @F.pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        mat = np.array(v.tolist(), dtype=np.float64)
        matn = mat / np.maximum(
            np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
        )
        return pd.Series((matn @ Cb.T).argmax(axis=1).astype(np.int32))

    return candidates.withColumn(cell_col, _assign(F.col(vec_col)))


def ivf_topk_pruned(queries: DataFrame, candidates: DataFrame, k: int,
                    n_centroids: int = 32, n_probe: int = 6,
                    kmeans_iters: int = 8, sample_mod: int = 1,
                    seed: int = 17, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    qid_col: str = "vec_id",
                    assigned: DataFrame | None = None,
                    C=None) -> DataFrame:
    """Production-shape IVF top-k: the probe filter is a broadcast
    EQUI-JOIN on the materialized assignment column, and the cosine runs
    as NATIVE zip_with/aggregate expressions — zero Python in the scoring
    path, and with the candidate table partitioned by `ivf_cell` the join
    key prunes partitions (only probed cells are scanned at all).

    Same recall contract as ivf_topk (identical centroids/probes given
    the same seed); exact scoring within each probed cell.  Pass
    `assigned`/`C` to reuse a previously materialized assignment.
    Returns (query_id, rank, neighbor_id)."""
    from pyspark.sql.window import Window

    spark = candidates.sparkSession
    if C is None:
        C = train_ivf_centroids(candidates, n_centroids, kmeans_iters,
                                sample_mod, seed, id_col, vec_col)
    if C is None:
        return spark.createDataFrame(
            [], "query_id long, rank int, neighbor_id long"
        )
    if assigned is None:
        assigned = ivf_assign(candidates, C, vec_col)

    qrows = queries.select(qid_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = qmat / np.maximum(
        np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12
    )
    nprobe = min(n_probe, len(C))
    probes = np.argsort(-(qnorm @ C.T), axis=1)[:, :nprobe]
    pairs = [
        (int(qid), int(c), [float(x) for x in qnorm[j]])
        for j, qid in enumerate(qids)
        for c in probes[j]
    ]
    probe_df = spark.createDataFrame(
        pairs, "query_id long, ivf_cell int, qvec array<double>"
    )

    # qvec arrives pre-normalized (driver numpy above), so the cosine
    # denominator is the candidate norm alone
    scored = (
        assigned.join(broadcast(probe_df), "ivf_cell")
        .withColumn("cos", F.expr(
            f"({_dot_sql(vec_col)}) / "
            f"greatest({_norm_sql(vec_col)}, 1e-12)"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos")
    )
    return _rank_topk(scored, k)


def _dot_sql(vec_col: str, qvec: str = "qvec") -> str:
    """Native dot product of a candidate vector column and the joined
    query vector — sequential left fold, zero Python in the hot path."""
    return (f"aggregate(zip_with(cast({vec_col} as array<double>), "
            f"{qvec}, (x, y) -> x * y), 0D, (acc, e) -> acc + e)")


def _norm_sql(vec_expr: str) -> str:
    """Native L2 norm of an array expression."""
    return (f"sqrt(aggregate(transform(cast({vec_expr} as array<double>), "
            f"x -> x * x), 0D, (acc, e) -> acc + e))")


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared tail of every top-k scorer: drop self-matches, rank per
    query by (cos desc, neighbor asc), keep the top k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def axis_sign_bucket(vec_col: str, plane_idx) -> "F.Column":
    """Axis-aligned sign-LSH bucket key as one native expression: bit p is
    set iff coordinate plane_idx[p] is positive (the q23 bucketing rule,
    dedup.axis_plane_indices — the shared literal index list is what makes
    the key reproducible in SQL with zero floating-point summation)."""
    terms = " + ".join(
        f"(case when element_at({vec_col}, {int(i) + 1}) > 0 "
        f"then {1 << p} else 0 end)"
        for p, i in enumerate(plane_idx)
    )
    return F.expr(f"cast({terms} as bigint)")


def bucket_topk(queries: DataFrame, store: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "vec_id",
                bucket_col: str = "bucket") -> DataFrame:
    """Exact cosine top-k WITHIN each query's LSH bucket over a stored
    candidate table: broadcast the (tiny) query set, equi-join on the
    bucket key, score with native zip_with/aggregate expressions, rank
    per query.

    Scale shape: with the store PARTITIONED BY the bucket key, the
    probe's isin/equi filter prunes partitions — only probed buckets are
    read at all (gate q70 asserts PartitionFilters + runtime file
    skipping), the candidates never shuffle (BroadcastHashJoin), and no
    Python touches the scoring path.  This is the deterministic-bucket
    cousin of ivf_topk_pruned (same serving plan, hash buckets instead
    of learned centroids — no training pass, coarser recall)."""
    q = queries.select(
        F.col(qid_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
        F.col(bucket_col).cast("bigint").alias(bucket_col),
    )
    # raw (unnormalized) query vectors here, so both norms divide —
    # unlike ivf_topk_pruned, whose driver pre-normalizes its probes
    scored = (
        store.withColumn(bucket_col, F.col(bucket_col).cast("bigint"))
        .join(broadcast(q), bucket_col)
        .withColumn("cos", F.expr(
            f"({_dot_sql(vec_col)}) / greatest(({_norm_sql(vec_col)}) * "
            f"({_norm_sql('qvec')}), 1e-12)"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos")
    )
    return _rank_topk(scored, k)
