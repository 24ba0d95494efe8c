"""Vector column utilities.

- ``parse_vector``: TO_VECTOR analog (01_pdf_to_vector.sql:141-144) — parse
  a JSON array string '[0.1, ...]' into array<double>.
- ``normalize_l2``: unit-normalize an array column.
- ``dim_check``: validation filter for the fixed-dimension contract
  (VECTOR(384, FLOAT32) → dim enforced by pipeline, SURVEY.md §1.1).
- the shared vector top-k plumbing (``WHERE ... ORDER BY VECTOR_DISTANCE
  ... FETCH FIRST k``, 01_pdf_to_vector.sql:84-97): ``arrow_topk`` (the
  per-partition ``mapInArrow`` top-k over a search path's own scorer),
  its two merges — ``collect_topk`` on the driver for every path that
  holds its queries there, ``rank_topk`` as a distributed window for the
  ones that do not — the Arrow → numpy matrix readers and the
  driver-side query / centroid helpers every search path uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parse_vector(s: Column) -> Column:
    """Parse '[1.5, 2.5]'-style strings to array<double> (F1/TO_VECTOR)."""
    return F.from_json(s, T.ArrayType(T.DoubleType()))


def normalize_l2(v: Column) -> Column:
    d = F.transform(v, lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when(nrm > 0, F.transform(d, lambda x: x / nrm)).otherwise(d)


def dim_violations(df: DataFrame, vec_col: str, dim: int) -> int:
    """Rows whose vector is null or not exactly ``dim`` long (the pipeline
    enforcement of the fixed-dim vector type)."""
    c = F.col(vec_col)
    return df.filter(c.isNull() | (F.size(c) != dim)).count()


def _rowwise_matrix(rows, dtype):
    """The per-row copy fallback for ragged or null-bearing input: an
    object or ragged stack fails downstream, never a silent NaN."""
    import numpy as np

    return np.array([np.asarray(v) for v in rows], dtype=dtype)


def arrow_list_matrix(arr, dtype="float64"):
    """(n, d) numpy matrix from an Arrow ``list<numeric>`` /
    ``fixed_size_list`` column — a zero-copy reshape of the child values
    buffer when rows are uniform-length (the fixed-dim vector contract),
    instead of the per-row ``np.array(list(...))`` stack that measured
    ~3× slower per batch (an Arrow list column is one contiguous values
    buffer + offsets). Ragged or null-bearing input falls back to the
    per-row copy. The null probe reads only the array's own slice of
    the child, so nulls outside a sliced batch do not force the copy."""
    import numpy as np
    import pyarrow as pa

    if arr.null_count:
        return _rowwise_matrix(arr.to_pylist(), dtype)
    flat = arr.flatten()
    if flat.null_count:
        return _rowwise_matrix(arr.to_pylist(), dtype)
    if pa.types.is_fixed_size_list(arr.type):
        d = arr.type.list_size
    else:
        widths = np.diff(arr.offsets.to_numpy(zero_copy_only=False))
        if not (len(widths) and (widths == widths[0]).all() and widths[0] > 0):
            return _rowwise_matrix(arr.to_pylist(), dtype)
        d = int(widths[0])
    mat = flat.to_numpy(zero_copy_only=False).reshape(-1, d)
    return np.ascontiguousarray(mat, dtype=dtype)


def arrow_binary_matrix(arr, dtype="uint8"):
    """(n, m) numpy matrix from an Arrow ``binary`` column of fixed-width
    codes (SQ8 int8 / PQ uint8) — a zero-copy view of the data buffer
    when every row holds the same number of bytes, the binary twin of
    :func:`arrow_list_matrix` with the same ragged/null fallback (a null
    or ragged row raises instead of misaligning the codes)."""
    import numpy as np
    import pyarrow as pa

    if not arr.null_count and len(arr):
        _, obuf, dbuf = arr.buffers()
        odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        offsets = np.frombuffer(obuf, dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
        widths = np.diff(offsets)
        if dbuf is not None and (widths == widths[0]).all() and widths[0] > 0:
            data = np.frombuffer(dbuf, dtype=np.uint8)[offsets[0] : offsets[-1]]
            return data.view(dtype).reshape(len(arr), -1)
    return _rowwise_matrix(
        [np.frombuffer(v, dtype=dtype) for v in arr.to_pylist()], dtype
    )


def arrow_topk_per_group(qids, bids, dists, k):
    """Top-k rows per qid from parallel numpy arrays, ordered by
    (qid, dist, id): ONE stable lexsort + a rank-within-group mask.
    Returns the three arrays sorted and truncated.

    A dense block (long runs of one qid, as :func:`pairs` lays it out)
    is first cut to the rows at or below each run's k-th smallest
    distance — an O(n) partition that keeps every tie, so the result is
    unchanged and the sort sees ~Q·k rows instead of Q·B."""
    import numpy as np

    starts = np.flatnonzero(np.r_[True, qids[1:] != qids[:-1]])
    if len(qids) > 4 * k * len(starts):
        keep = np.ones(len(qids), dtype=bool)
        for s, e in zip(starts, np.r_[starts[1:], len(qids)]):
            if e - s > k:
                thr = np.partition(dists[s:e], k - 1)[k - 1]
                if thr == thr:  # a NaN k-th distance keeps the whole run
                    keep[s:e] = dists[s:e] <= thr
        qids, bids, dists = qids[keep], bids[keep], dists[keep]
    order = np.lexsort((bids, dists, qids))
    q, b, d = qids[order], bids[order], dists[order]
    keep = _run_positions(q) < k
    return q[keep], b[keep], d[keep]


def _run_positions(q):
    """0-based position of every element within its run of equal values."""
    import numpy as np

    starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    return np.arange(len(q)) - np.repeat(starts, np.diff(np.r_[starts, len(q)]))


def pairs(qids, bids, dist):
    """Flatten a (Q, B) distance block into the parallel (qid, bid, dist)
    arrays a top-k scorer yields: row i of ``dist`` scores query
    ``qids[i]`` against every base id in ``bids``."""
    import numpy as np

    return np.repeat(qids, len(bids)), np.tile(bids, len(qids)), dist.ravel()


def topk_partition(batches, score, k, exclude_self=False):
    """One partition of :func:`arrow_topk`: score every Arrow batch, drop
    self pairs when ``exclude_self``, trim each scored block to k rows
    per query, and reduce the blocks to ONE Arrow batch of ``(__qid,
    __bid, __dist)`` holding ≤ k rows per query (none when nothing
    scored). ``dist`` keeps the scorer's dtype."""
    import numpy as np
    import pyarrow as pa

    parts = []
    for rb in batches:
        if rb.num_rows == 0:
            continue
        for q, b, d in score(rb):
            if exclude_self:
                keep = b != q
                q, b, d = q[keep], b[keep], d[keep]
            if len(q):
                parts.append(arrow_topk_per_group(q, b, d, k))
    if not parts:
        return
    q, b, d = parts[0]
    if len(parts) > 1:
        q, b, d = arrow_topk_per_group(*(np.concatenate(c) for c in zip(*parts)), k)
    yield pa.RecordBatch.from_arrays(
        [pa.array(q, type=pa.int64()), pa.array(b, type=pa.int64()), pa.array(d)],
        names=["__qid", "__bid", "__dist"],
    )


def arrow_topk(frame, score, k, exclude_self=False, dist_type="double"):
    """The per-partition half of every vector top-k (``ORDER BY
    VECTOR_DISTANCE ... FETCH FIRST k``): ``mapInArrow`` over ``frame``,
    where ``score(rb)`` yields one or more parallel ``(qid, bid, dist)``
    numpy arrays per Arrow batch (:func:`pairs` flattens a dense block).
    Each partition leaves ≤ k rows per query (:func:`topk_partition`),
    so the merge (:func:`collect_topk` or :func:`rank_topk`) sees ≤ P·Q·k
    rows, never N·Q — a local top-k per partition, then one merge.
    ``dist_type`` is the Spark type of the scorer's distances (``long``
    keeps integer Hamming distances exact)."""
    def topk(batches):  # named: the plan shows ``MapInArrow topk(...)``
        return topk_partition(batches, score, k, exclude_self)

    return frame.mapInArrow(topk, schema=f"__qid long, __bid long, __dist {dist_type}")


def collect_topk(scored, k, query_id, id_col, dist_name="distance"):
    """The driver-side merge of :func:`arrow_topk` candidates, for every
    search whose queries are already on the driver: runs the top-k job
    once, pulls its ≤ P·Q·k candidates with ``toArrow()`` and merges them
    with the same :func:`arrow_topk_per_group` the partitions use (ties
    break by id). Returns the ranked ``(query_id, rank, id_col,
    dist_name)`` rows as a local relation, so collecting it runs no
    Spark job; rows equal :func:`rank_topk`'s."""
    import numpy as np
    import pyarrow as pa

    t = scored.toArrow()
    q, b, d = arrow_topk_per_group(
        *(t.column(c).to_numpy() for c in ("__qid", "__bid", "__dist")), k
    )
    ranked = pa.table(
        [
            pa.array(q, pa.int64()),
            pa.array(_run_positions(q) + 1, pa.int64()),
            pa.array(b, pa.int64()),
            pa.array(d, t.schema.field("__dist").type),
        ],
        names=[query_id, "rank", id_col, dist_name],
    )
    return scored.sparkSession.createDataFrame(ranked)


def rank_topk(scored, k, query_id, id_col, dist_name="distance"):
    """The distributed merge of :func:`arrow_topk` candidates, for query
    frames that stay distributed (``IvfIndex.search_df``, the ``expr``
    reference path): rank per query by (distance, id) — ties break by id,
    so results are deterministic — keep k, and name the columns
    ``(query_id, rank, id_col, dist_name)``. Lazy, one shuffle."""
    w = Window.partitionBy("__qid").orderBy(F.col("__dist").asc(), F.col("__bid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("rank").cast("long").alias("rank"),
            F.col("__bid").alias(id_col),
            F.col("__dist").alias(dist_name),
        )
    )


def collect_queries(queries, query_id, query_vec):
    """A bounded query frame on the driver, in one collect: ``(qids,
    qmat)`` as an int64 vector and a (Q, d) float64 matrix ((0, 0) when
    the frame is empty). On a :func:`query_frame` the collect runs no
    Spark job."""
    import numpy as np

    rows = queries.select(query_id, query_vec).collect()
    qids = np.array([int(r[0]) for r in rows], dtype=np.int64)
    if not rows:
        return qids, np.zeros((0, 0))
    return qids, np.array([list(r[1]) for r in rows], dtype=np.float64)


def query_frame(spark, qids, qmat, query_id="qid", query_vec="qvec"):
    """``(query_id long, query_vec array<…>)`` from driver-side query ids
    and a (Q, d) matrix, as a local relation (built from one Arrow table,
    not a parallelized Python list): collecting it — as every search's
    :func:`collect_queries` does — runs no Spark job. The array's element
    type follows ``qmat``'s dtype (float32 → ``array<float>``)."""
    import numpy as np
    import pyarrow as pa

    qmat = np.asarray(qmat)
    if qmat.ndim != 2:  # no queries at all
        qmat = qmat.reshape(0, 0)
    n, d = qmat.shape
    vecs = pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int32) * d), pa.array(qmat.ravel())
    )
    ids = pa.array(np.asarray(qids, dtype=np.int64))
    return spark.createDataFrame(pa.table([ids, vecs], names=[query_id, query_vec]))


def probe_map(probe_lists):
    """cluster id → positions of the queries that probe it, from each
    query's list of probed cluster ids."""
    probers: dict[int, list[int]] = {}
    for pos, cids in enumerate(probe_lists):
        for cid in cids:
            probers.setdefault(int(cid), []).append(pos)
    return probers


def nearest_centroids(x, c, nprobe=1):
    """(n, nprobe) row indices into ``c`` of each row of ``x``'s nearest
    centroids, nearest first: the ‖x−c‖² ranking as ``-2·x·cᵀ + ‖c‖²``
    (‖x‖² is constant per row). Ties go to the lower centroid row."""
    import numpy as np

    d2 = -2.0 * x @ c.T + (c * c).sum(axis=1)[None, :]
    if nprobe == 1:
        return d2.argmin(axis=1)[:, None]
    return np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
