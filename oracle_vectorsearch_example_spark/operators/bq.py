"""Binary vector quantization (X24) — Oracle 23ai's BINARY vector
dimension format, Spark-first: 1 bit/dim (sign), hamming distance, 32×
smaller than float32 and 64× smaller than the float64 test columns.

Encode is PURE JVM — no UDF anywhere: a `transform` sets bit (i mod 64)
for every positive component and an `aggregate` ORs each 64-slice into
one BIGINT word, so packing runs inside whole-stage codegen and the
codes land in an ordinary `array<bigint>` column (parquet/pruning/
payload-compatible, same posture as SQ8's binary column).

Search is the standard two-stage binary pipeline (FAISS
IndexBinaryFlat + refine): XOR+popcount hamming scan over the packed
words (numpy uint8 lookup — one table index per byte), oversampled
top-k candidates, then an exact or SQ8 rerank. Hamming is an INTEGER —
no floating-point anywhere in the coarse stage, so ranks are exactly
reproducible and the golden hash-checks against a DuckDB oracle that
recomputes sign-mismatch counts straight from the float vectors.

Frozen spec: bit_i = 1 iff v_i > 0 (exact zeros pack as 0);
word_j = OR over i in [64j, 64j+64) of bit_i << (i - 64j).

At 100 TB: 384-dim embeddings become 48 B/vec (6 words) — the whole
ranking working set of a 260 B-vector corpus fits in ~12 TB of scans,
and the coarse stage reads nothing else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oracle_vectorsearch_example_spark.functions.vectors import (
    arrow_list_matrix,
    arrow_topk,
    collect_queries,
    collect_topk,
    pairs,
)


def bq_encode_df(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, words array<bigint>) sign-bit packing — pure JVM expressions
    (whole-stage codegen; the encode never leaves the JVM)."""
    if dim is None:
        row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is None:
            raise ValueError("cannot infer dim from an empty DataFrame")
        dim = int(row["d"])
    nwords = (dim + 63) // 64
    bits = F.expr(
        f"transform({vec_col}, (x, i) -> IF(x > 0, shiftleft(1L, i % 64), 0L))"
    ).alias("__bits")
    words = F.array(
        *[
            F.expr(f"aggregate(slice(__bits, {j * 64 + 1}, 64), 0L, (a, b) -> a | b)")
            for j in range(nwords)
        ]
    ).alias("words")
    extra = list(keep_cols or [])
    return (
        df.select(F.col(id_col).cast("long").alias(id_col), bits, *extra)
        .select(id_col, words, *extra)
    )


_POPCOUNT = None


def _popcount_table():
    global _POPCOUNT
    if _POPCOUNT is None:
        import numpy as np

        _POPCOUNT = np.array(
            [bin(i).count("1") for i in range(256)], dtype=np.uint16
        )
    return _POPCOUNT


def bq_topk_search(
    codes: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    query_id: str = "qid",
    query_vec: str = "qvec",
    exclude_self: bool = False,
) -> DataFrame:
    """(qid, rank, id, hamming): top-k by hamming distance over the
    packed words. Queries are a bounded float frame — they sign-pack
    driver-side with the same frozen spec and broadcast in the task
    closures; per Arrow batch the scan is one XOR + one uint8 table
    lookup per byte. Integer distances → exactly reproducible ranks
    (ties by id), so the golden needs no rounding discipline. Runs on
    the shared ``arrow_topk`` kernel (``mapInArrow``): the packed words
    enter numpy as one reshaped Arrow values buffer per batch, and the
    distances stay int64 through the driver-side merge. Evaluates at call
    time and returns a local relation, like ``topk_search``."""
    import numpy as np

    qids, qv = collect_queries(queries, query_id, query_vec)
    nwords = (qv.shape[1] + 63) // 64
    qbits = np.zeros((len(qids), nwords), dtype=np.uint64)
    for j in range(nwords):
        seg = qv[:, j * 64 : (j + 1) * 64] > 0
        weights = (1 << np.arange(seg.shape[1], dtype=np.uint64))
        qbits[:, j] = (seg.astype(np.uint64) * weights).sum(axis=1)

    def score(rb):
        table = _popcount_table()
        bids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        w = arrow_list_matrix(rb.column(1), "int64").view(np.uint64)
        ham = np.empty((len(qids), len(bids)), dtype=np.int64)
        for qi in range(len(qids)):
            ham[qi] = table[(w ^ qbits[qi][None, :]).view(np.uint8)].sum(axis=1)
        yield pairs(qids, bids, ham)

    frame = codes.select(F.col(id_col).cast("long").alias(id_col), "words")
    scored = arrow_topk(frame, score, k, exclude_self, dist_type="long")
    return collect_topk(scored, k, query_id, id_col, dist_name="hamming")
