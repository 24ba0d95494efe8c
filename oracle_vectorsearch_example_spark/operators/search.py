"""Batch vector similarity search (J10 / X5) — the query side of the
reference's vector index (ORDER BY VECTOR_DISTANCE ... FETCH FIRST k,
01_pdf_to_vector.sql:84-97).

Scale design: queries are broadcast (small side); the base table is scanned
once, partition-local. Two implementations:

- ``impl="numpy"`` (default): the shared ``arrow_topk`` kernel
  (``mapInArrow``) scores each Arrow batch against the broadcast query
  matrix with one BLAS matmul and keeps a per-partition top-k, and the
  driver merges the P·Q·k candidate rows (``collect_topk``) — never
  N·Q, one Spark job per search. Spark's column
  higher-order functions (``zip_with``/``aggregate``) run interpreted (no
  codegen), which makes per-pair expression math the bottleneck at scale;
  Arrow + BLAS is 10-100× faster per row.
- ``impl="expr"``: pure column expressions (distances.vector_distance) +
  a per-partition window top-k, merged by the distributed ``rank_topk``
  window. JVM-only, no Python workers — the cross-check path and the
  right choice when Python workers are unavailable.

Both rank by (distance, base id), so results are identical and
deterministic.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oracle_vectorsearch_example_spark.functions.distances import vector_distance
from oracle_vectorsearch_example_spark.functions.vectors import (
    arrow_list_matrix,
    arrow_topk,
    collect_queries,
    collect_topk,
    pairs,
    rank_topk,
)

_NUMPY_METRICS = ("cosine", "euclidean", "l2", "dot", "dot_product", "manhattan", "l1")


def _numpy_scorer(qids, qmat, metric: str):
    """Scorer for ``arrow_topk`` over (id, vector) batches: the (Q, B)
    float64 BLAS distance block of each batch against the query matrix."""
    import numpy as np

    m = metric.lower()
    if m == "cosine":
        qnorm = np.linalg.norm(qmat, axis=1)
        qnorm[qnorm == 0] = 1.0

    def score(rb):
        bids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        vmat = arrow_list_matrix(rb.column(1))
        if m == "cosine":
            vn = np.linalg.norm(vmat, axis=1)
            vn[vn == 0] = 1.0
            sim = (vmat @ qmat.T) / vn[:, None] / qnorm[None, :]
            dist = 1.0 - sim.T
        elif m in ("l2", "euclidean"):
            vv = (vmat * vmat).sum(axis=1)
            qq = (qmat * qmat).sum(axis=1)
            d2 = qq[:, None] + vv[None, :] - 2.0 * (qmat @ vmat.T)
            dist = np.sqrt(np.clip(d2, 0.0, None))
        elif m in ("dot", "dot_product"):
            dist = -(qmat @ vmat.T)
        else:  # l1 / manhattan: chunk the broadcast to bound memory
            chunks = []
            step = max(1, 1_000_000 // max(1, qmat.shape[0] * qmat.shape[1]))
            for i in range(0, vmat.shape[0], step):
                chunks.append(
                    np.abs(qmat[:, None, :] - vmat[None, i : i + step, :]).sum(-1)
                )
            dist = np.concatenate(chunks, axis=1)
        yield pairs(qids, bids, dist)

    return score


def topk_search(
    base: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    base_id: str = "vec_id",
    base_vec: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qvec",
    exclude_self: bool = False,
    impl: str = "numpy",
    predicate=None,
) -> DataFrame:
    """For each query vector, the k nearest base rows.

    Returns (query_id, rank, base_id, distance); rank is 1-based, ties
    broken by base id so results are deterministic. Queries are collected
    to the driver (small by contract — the reference's search is likewise
    one query vector at a time, models/README.md:40). The numpy path
    evaluates at call time in one Spark job (none more when ``queries``
    is a local relation) and returns a local relation; ``impl="expr"``
    returns a lazy, distributed plan.

    ``predicate`` (Column or SQL string over base columns) is the
    reference's filtered-search idiom — ``WHERE ... ORDER BY
    VECTOR_DISTANCE ... FETCH FIRST k`` (01_pdf_to_vector.sql:84-97):
    applied to the base BEFORE scoring/top-k, so k qualifying rows come
    back, and Catalyst pushes it into the scan (PushedFilters —
    plan-asserted in tests).
    """
    if predicate is not None:
        base = base.filter(
            F.expr(predicate) if isinstance(predicate, str) else predicate
        )
    if impl == "numpy" and metric.lower() in _NUMPY_METRICS:
        qids, qmat = collect_queries(queries, query_id, query_vec)
        frame = (
            base.select(F.col(base_id).cast("long").alias(base_id), base_vec)
            # a NULL vector row would poison the batch matrix; excluded by
            # definition (no distance is defined for it)
            .filter(F.col(base_vec).isNotNull())
        )
        scored = arrow_topk(frame, _numpy_scorer(qids, qmat, metric), k, exclude_self)
        return collect_topk(scored, k, query_id, base_id)
    elif impl in ("numpy", "expr"):
        q = queries.select(
            F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec")
        )
        joined = base.select(base_id, base_vec).join(F.broadcast(q))
        if exclude_self:
            joined = joined.filter(F.col(base_id) != F.col("__qid"))
        dist = vector_distance(F.col(base_vec), F.col("__qvec"), metric)
        # top-k within each input partition (no shuffle) before the merge
        part_w = Window.partitionBy("__qid", F.spark_partition_id()).orderBy(
            F.col("__dist").asc(), F.col("__bid").asc()
        )
        scored = (
            joined.select(
                F.col("__qid"), F.col(base_id).alias("__bid"), dist.alias("__dist")
            )
            .withColumn("__pr", F.row_number().over(part_w))
            .filter(F.col("__pr") <= k)
            .drop("__pr")
        )
    else:
        raise ValueError(f"unknown impl {impl!r}; one of numpy, expr")
    return rank_topk(scored, k, query_id, base_id)


def cosine_neardup_pairs_sparse(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via a sparse component equi-join:
    explode to (id, i, x), drop zeros, join on i, Σ xa·xb per pair, divide
    by the norms. Exact — same result as ``cosine_neardup_pairs`` — but all
    JVM hash-join/agg (no interpreted per-pair fold), and work scales with
    co-occurring non-zeros instead of N²·d pair evaluations. Right choice
    for sparse embeddings (hashing/TF); for dense embeddings at scale use
    IvfIndex cluster bucketing to bound the candidate set first."""
    comp = df.select(
        F.col(id_col), F.posexplode(vec_col).alias("__i", "__x")
    ).filter(F.col("__x") != 0.0)
    nrm = comp.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("__x") * F.col("__x"))).alias("__nrm")
    )
    a = comp.select(F.col(id_col).alias("id_a"), "__i", F.col("__x").alias("__xa"))
    b = comp.select(F.col(id_col).alias("id_b"), "__i", F.col("__x").alias("__xb"))
    dots = (
        a.join(b, "__i")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__xa") * F.col("__xb")).alias("__dot"))
    )
    na = nrm.select(F.col(id_col).alias("id_a"), F.col("__nrm").alias("__na"))
    nb = nrm.select(F.col(id_col).alias("id_b"), F.col("__nrm").alias("__nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cos_sim", F.col("__dot") / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def cosine_neardup_pairs_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_tables: int = 16,
    n_bits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup via LSH blocking + exact verification —
    the 100 TB path. Candidates = pairs sharing any random-hyperplane
    bucket (equi-join on (table, bucket), work scales with bucket
    occupancy); each candidate's cosine is verified exactly (Arrow-batched
    BLAS, not per-pair interpreted folds), so precision is 1.0. Recall: a
    pair at cos = t collides per table with prob (1 − arccos(t)/π)^b; at
    t ≥ 0.95, b=12, L=16 that is ≈ 0.995. Raise n_tables (recall) /
    n_bits (candidate pruning) per corpus correlation — correlated sign
    bits make buckets skewed, so verify cost tracks bucket occupancy."""
    from typing import Iterator as _It

    from oracle_vectorsearch_example_spark.operators.lsh_ann import CosineLshIndex

    idx = CosineLshIndex.build(
        df, dim=dim, n_tables=n_tables, n_bits=n_bits,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    # candidates as skinny id pairs — carrying vectors through the
    # bucket join + dedup shuffle multiplies shuffle bytes by dim;
    # re-attach vectors after dedup instead (AQE broadcasts small sides)
    asg = idx.assignments.select(id_col, "table", "bucket")
    a = asg.select(F.col(id_col).alias("id_a"), "table", "bucket")
    b = asg.select(F.col(id_col).alias("id_b"), "table", "bucket")
    pair_ids = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
    cand = (
        pair_ids.join(
            vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")),
            "id_a",
        )
        .join(
            vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")),
            "id_b",
        )
        .select("id_a", "__va", "id_b", "__vb")
    )

    def verify(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            va = np.array(list(pdf["__va"]), dtype=np.float64)
            vb = np.array(list(pdf["__vb"]), dtype=np.float64)
            na = np.linalg.norm(va, axis=1)
            nb = np.linalg.norm(vb, axis=1)
            na[na == 0] = 1.0
            nb[nb == 0] = 1.0
            sim = np.einsum("ij,ij->i", va, vb) / (na * nb)
            keep = sim >= threshold
            if keep.any():
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"].to_numpy()[keep],
                        "id_b": pdf["id_b"].to_numpy()[keep],
                        "cos_sim": sim[keep],
                    }
                )

    return cand.mapInPandas(verify, schema="id_a long, id_b long, cos_sim double")


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, similarity ≥
    threshold). Exact all-pairs — the brute-force baseline; use
    ``cosine_neardup_pairs_lsh`` (blocked, near-perfect recall at high
    thresholds) or IvfIndex bucketing for the 100 TB path."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    sim = F.lit(1.0) - vector_distance(F.col("__va"), F.col("__vb"), "cosine")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def mine_hard_negatives(
    base: DataFrame,
    positives: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    base_id: str = "vec_id",
    base_vec: str = "embedding",
    qid_col: str = "qid",
    pos_col: str = "pos_id",
) -> DataFrame:
    """Hard-negative mining for embedding-model training (the standard
    contrastive-training data step — e.g. DPR, Karpukhin et al. 2020,
    arXiv:2004.04906: negatives = the nearest corpus items that are NOT
    labeled positive, which carry far more gradient signal than random
    negatives).

    ``positives`` is the labeled frame (qid, pos_id); each query's
    vector is looked up in ``base`` by qid. The search overfetches
    k + (max positives per query) nearest neighbors (self excluded),
    drops labeled positives with an anti-join, re-ranks, and keeps the
    k nearest survivors → (qid, rank, neg_id, distance).

    Scale posture: one bounded metadata action (the per-query positive
    count cap), then the existing `topk_search` plan; the positives
    anti-join broadcasts (labels are metadata-sized by contract). For
    corpus-sized query sets use the same composition over
    `IvfIndex.search_df` instead.
    """
    qids = positives.select(F.col(qid_col)).distinct()
    qvecs = base.join(
        qids, F.col(base_id) == F.col(qid_col)
    ).select(qid_col, F.col(base_vec).alias("qvec"))
    max_pos = (
        positives.groupBy(qid_col).count().agg(F.max("count")).collect()[0][0]
    )
    hits = topk_search(
        base, qvecs, k=k + int(max_pos or 0), metric=metric,
        base_id=base_id, base_vec=base_vec, query_id=qid_col,
        exclude_self=True,
    )
    labeled = positives.select(
        F.col(qid_col), F.col(pos_col).alias(base_id)
    )
    survivors = hits.join(F.broadcast(labeled), [qid_col, base_id], "left_anti")
    w = Window.partitionBy(qid_col).orderBy(
        F.col("distance").asc(), F.col(base_id).asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            qid_col, "rank", F.col(base_id).alias("neg_id"), "distance"
        )
    )


def mrl_topk_search(
    base: DataFrame,
    queries: DataFrame,
    k: int = 10,
    coarse_dim: int = 16,
    oversample: int = 4,
    metric: str = "cosine",
    base_id: str = "vec_id",
    base_vec: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qvec",
    exclude_self: bool = False,
) -> DataFrame:
    """Matryoshka two-stage search (MRL, Kusupati et al. 2022,
    arXiv:2205.13147 — embeddings whose prefixes are themselves valid
    lower-dimensional embeddings, the design behind truncatable API
    embeddings): stage 1 ranks on the FIRST ``coarse_dim`` components
    only (reads/computes a fraction of every vector — the
    quantization-free cheap tier, complementary to SQ8/PQ/BQ which
    compress all dims), keeping k·oversample candidates per query;
    stage 2 re-scores just those candidates on the full vectors and
    keeps k. Exact on the candidate set; recall depends on how much
    signal the prefix carries (tested with a recall gate).

    Plan: stage 1 is the existing `topk_search` over a sliced column;
    stage 2 joins the candidate ids back to the full vectors (candidate
    rows only — k·oversample·queries, never corpus-sized) with the
    bounded query frame broadcast."""
    coarse_b = base.withColumn("__cv", F.slice(F.col(base_vec), 1, coarse_dim))
    coarse_q = queries.withColumn(
        "__cq", F.slice(F.col(query_vec), 1, coarse_dim)
    )
    cand = topk_search(
        coarse_b, coarse_q, k=k * oversample, metric=metric,
        base_id=base_id, base_vec="__cv", query_id=query_id,
        query_vec="__cq", exclude_self=exclude_self,
    ).select(query_id, base_id)
    # candidates are Q·k·oversample rows — BROADCAST them explicitly:
    # size estimates after a window top-k are unknown, so the planner
    # was picking a sort-merge join that shuffled AND sorted the whole
    # base table by id just to attach this tiny frame (r14 opt: plan
    # showed Exchange+Sort on the 4M side; with the broadcast the base
    # is scanned in place, stage-2 wall collapses into the scan).
    # Guarded (r15, ADVICE r14): an unconditional hint on a huge query
    # batch would force a broadcast past the 8 GB / 512M-row relation
    # cap instead of letting the planner fall back. The guard bounds Q
    # with a LIMIT-capped count (bounded work even on an unbounded query
    # frame: scans at most cap+1 rows) and skips the hint when
    # Q·k·oversample could exceed ~32M candidate rows (~0.5 GB framed).
    cand_cap = max(1, 32_000_000 // max(1, k * oversample))
    q_bounded = queries.limit(cand_cap + 1).count() <= cand_cap
    cand_h = F.broadcast(cand) if q_bounded else cand
    q_skinny = queries.select(query_id, query_vec)
    full = base.select(base_id, base_vec).join(cand_h, base_id).join(
        F.broadcast(q_skinny) if q_bounded else q_skinny, query_id
    )
    scored = full.withColumn(
        "distance",
        vector_distance(F.col(base_vec), F.col(query_vec), metric),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("distance").asc(), F.col(base_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", base_id, "distance")
    )


def collapse_chunk_hits(
    hits: DataFrame,
    mapping: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    chunk_id: str = "vec_id",
    doc_id: str = "doc_id",
    dist_col: str = "distance",
) -> DataFrame:
    """Document-level serving over chunk-level hits — the step every
    consumer of the reference's data model needs: the corpus is MANY
    chunks per document (doc_chunks(doc_id, chunk_id, embed_vector),
    01_pdf_to_vector.sql:60-97) and a chunk-level top-k returns several
    chunks of the same strong document, crowding out the rest of the
    page of results. Collapse keeps each document's BEST chunk and
    re-ranks documents:

    - best chunk per (query, doc) = min distance, ties by chunk id;
    - doc rank per query = (distance asc, doc id) over the survivors;
    - top ``k`` docs returned as (query_id, rank, doc_id, chunk_id,
      distance) — chunk_id kept so the caller can fetch the winning
      passage (the snippet/rerank input).

    ``hits`` is any search output (query_id, rank, chunk_id, distance)
    — exact, IVF, HNSW, quantized all share the shape; ``mapping`` is
    the skinny (chunk_id, doc_id) projection of the chunk table. Two
    window functions over hit rows only (bounded at queries × k_in);
    the corpus never enters the plan. Oversample the chunk-level k
    (k_in ≈ k·avg_chunks_per_strong_doc) so collapsing still fills k
    documents."""
    j = hits.join(mapping.select(chunk_id, doc_id), chunk_id)
    w_doc = Window.partitionBy(query_id, doc_id).orderBy(
        F.col(dist_col).asc(), F.col(chunk_id).asc()
    )
    best = (
        j.withColumn("__rn", F.row_number().over(w_doc))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    w_q = Window.partitionBy(query_id).orderBy(
        F.col(dist_col).asc(), F.col(doc_id).asc()
    )
    return (
        best.withColumn("rank", F.row_number().over(w_q))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", doc_id, chunk_id, dist_col)
    )
