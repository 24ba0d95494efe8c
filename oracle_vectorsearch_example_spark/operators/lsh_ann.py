"""Random-hyperplane (cosine) LSH approximate nearest neighbor — the
LSH-bucketed alternative to the IVF index (operators/ivf.py) for the same
query the reference's vector index serves (01_pdf_to_vector.sql:84-97).

Build: L hash tables × b seeded hyperplanes; a vector's bucket in table t
is the b-bit sign pattern of its projections. One narrow assignment table
(id, table, bucket) — computed in one distributed pass, no iterations, no
training (the advantage over IVF for fast-changing corpora).

Search: per query, its L buckets; candidates = base rows sharing any
bucket (equi-join on (table, bucket) — shuffle scales with bucket
occupancy, never N·Q); exact cosine re-rank of the deduped candidates.
Recall tunes with L (more tables = more candidates), precision of the
candidate set with b (more bits = smaller buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oracle_vectorsearch_example_spark.functions.distances import cosine_distance
from oracle_vectorsearch_example_spark.sources.txn import Warehouse


def _lsh_signatures(
    df: DataFrame, planes, id_col: str, vec_col: str, n_probes: int = 1
) -> DataFrame:
    """One distributed pass: (id, vec, table, bucket) rows via a per-batch
    matmul against the broadcast (L·b, dim) plane matrix.

    ``n_probes`` > 1 is MULTI-PROBE (Lv et al. 2007, "Multi-probe LSH:
    efficient indexing for high-dimensional similarity search", VLDB):
    per (vector, table), also emit the buckets reached by flipping the
    bits whose hyperplane margins |v·p| are smallest — the buckets a
    near-boundary vector most plausibly fell into on the other side.
    Probe j flips the j-th-closest bit (single-bit flips; ``n_probes`` ≤
    b+1). Build passes always use 1; search passes trade probes for
    tables — ~P probes buy the recall of ~P tables without storing them."""
    import numpy as np

    n_tables, n_bits, _dim = planes.shape
    if not 1 <= n_probes <= n_bits + 1:
        raise ValueError(
            f"n_probes must be in [1, n_bits+1={n_bits + 1}], got {n_probes}"
        )
    flat = planes.reshape(n_tables * n_bits, _dim).tolist()
    weights = [1 << j for j in range(n_bits)]

    def run(batches):
        import pandas as pd

        p = np.array(flat)  # (L*b, dim)
        w = np.array(weights, dtype=np.int64)
        L, b, P = n_tables, n_bits, n_probes
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            n = len(v)
            proj = (v @ p.T).reshape(n, L, b)  # (N, L, b)
            base = ((proj > 0) @ w).astype(np.int64)  # (N, L)
            if P == 1:
                bk = base[:, :, None]  # (N, L, 1)
            else:
                order = np.argsort(np.abs(proj), axis=2)[:, :, : P - 1]  # (N, L, P-1)
                flips = w[order]  # (N, L, P-1)
                bk = np.concatenate(
                    [base[:, :, None], base[:, :, None] ^ flips], axis=2
                )  # (N, L, P)
            out = pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), L * P),
                    vec_col: [x for x in pdf[vec_col] for _ in range(L * P)],
                    "table": np.repeat(
                        np.tile(np.arange(L, dtype=np.int32), n), P
                    ),
                    "bucket": bk.reshape(-1),
                }
            )
            yield out

    schema = f"{id_col} long, {vec_col} array<double>, table int, bucket long"
    return df.select(
        F.col(id_col).cast("long"), F.col(vec_col).cast("array<double>")
    ).mapInPandas(run, schema=schema)


class CosineLshIndex:
    def __init__(self, assignments: DataFrame, planes, id_col: str, vec_col: str):
        self.assignments = assignments  # (id, vec, table, bucket)
        self.planes = planes  # numpy (L, b, dim)
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls,
        df: DataFrame,
        dim: int,
        n_tables: int = 8,
        n_bits: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
    ) -> "CosineLshIndex":
        """One distributed pass: signatures via a per-batch matmul against
        the broadcast (L·b, dim) plane matrix."""
        import numpy as np

        rng = np.random.RandomState(seed)
        planes = rng.standard_normal((n_tables, n_bits, dim))
        assignments = _lsh_signatures(df, planes, id_col, vec_col)
        return cls(assignments, planes, id_col, vec_col)

    def add(self, df: DataFrame) -> "CosineLshIndex":
        """Index maintenance without rebuild: the hyperplanes are fixed at
        build time (training-free), so new vectors hash against the SAME
        planes and simply union in — bucket membership of existing rows is
        untouched. Callers own id uniqueness across adds."""
        new = _lsh_signatures(df, self.planes, self.id_col, self.vec_col)
        return CosineLshIndex(
            self.assignments.unionByName(new), self.planes, self.id_col, self.vec_col
        )

    # ------------------------------------------------- persistence (r4)
    # Same log-backed layout as IvfIndex: ``path`` is a Warehouse root
    # (sources/txn.py) holding one table, the assignment table partitioned
    # by table (probe filters prune the partition a query's bucket lives
    # in); the manifest's meta holds the column names and the hyperplanes.
    # load() needs only the path and reads the manifest on the driver.
    _TABLE = "lsh"

    def save(self, path: str) -> "CosineLshIndex":
        """Materialize the index at ``path`` (replacing any index saved
        there) as one manifest publish; returns a handle backed by the
        persisted table (reopen later with :meth:`load`)."""
        wh = Warehouse(self.assignments.sparkSession, path)
        base = wh.current_version()
        written = wh.stage([self._TABLE], base)
        self.assignments.write.mode("overwrite").partitionBy("table").parquet(
            f"{wh.root}/{written[self._TABLE]}"
        )
        meta = {
            "id_col": self.id_col,
            "vec_col": self.vec_col,
            "planes": self.planes.tolist(),
        }
        wh.commit_staged(base, written, meta=meta)
        return CosineLshIndex(
            wh.read(self._TABLE), self.planes, self.id_col, self.vec_col
        )

    @classmethod
    def load(cls, spark, path: str) -> "CosineLshIndex":
        """Reopen a saved index from its directory alone."""
        import numpy as np

        wh = Warehouse(spark, path)
        meta = wh.meta()
        return cls(
            wh.read(cls._TABLE),
            np.array(meta["planes"], dtype=np.float64),
            meta["id_col"],
            meta["vec_col"],
        )

    def search_df(
        self,
        queries: DataFrame,
        k: int = 10,
        query_id: str = "qid",
        query_vec: str = "qvec",
        exclude_self: bool = False,
        predicate=None,
        n_probes: int = 1,
    ) -> DataFrame:
        """Fully DISTRIBUTED bucket-join search for LARGE query frames
        (r4; same scale story as ``IvfIndex.search_df``): the query frame
        hashes through the SAME ``_lsh_signatures`` pass as the build (no
        ``collect()``), candidates come from the (table, bucket) equi-join
        — shuffle ∝ bucket co-occupancy, never N·Q — then the identical
        exact re-rank. Returns the same rows as ``search`` for the same
        queries (asserted in tests); the join side is not broadcast, so
        AQE picks the strategy fit for a big probe frame."""
        probes = _lsh_signatures(
            queries.select(
                F.col(query_id).alias(query_id), F.col(query_vec).alias("__qvec")
            ),
            self.planes,
            query_id,
            "__qvec",
            n_probes=n_probes,
        )
        base = self.assignments
        if predicate is not None:
            # filtered search (01_pdf_to_vector.sql:84-97): pre-join, so k
            # qualifying rows return; predicates range over the assignment
            # columns (id/vector) — for attribute predicates store
            # payload_cols in an IvfIndex (the primary filtered-ANN path)
            base = base.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        cand = (
            base.join(probes, ["table", "bucket"])
            .select(query_id, "__qvec", self.id_col, self.vec_col)
            .dropDuplicates([query_id, self.id_col])
        )
        if exclude_self:
            cand = cand.filter(F.col(self.id_col) != F.col(query_id))
        scored = cand.select(
            query_id,
            F.col(self.id_col),
            cosine_distance(F.col(self.vec_col), F.col("__qvec")).alias("distance"),
        )
        win = Window.partitionBy(query_id).orderBy(
            F.col("distance").asc(), F.col(self.id_col).asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select(query_id, F.col("rank").cast("long"), self.id_col, "distance")
        )

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        query_id: str = "qid",
        query_vec: str = "qvec",
        exclude_self: bool = False,
        predicate=None,
        n_probes: int = 1,
    ) -> DataFrame:
        """Bucket-join candidates → exact cosine re-rank → top-k.
        Returns (query_id, rank, base_id, distance), ties broken by id.
        Collects the query frame driver-side — correct for EP3's
        small-query contract; use ``search_df`` for large query frames.
        ``n_probes`` > 1 additionally probes the buckets reached by
        flipping the lowest-|margin| bits per table (multi-probe LSH —
        recall of ~n_probes tables at one table's storage)."""
        import numpy as np

        L, b, _ = self.planes.shape
        if not 1 <= n_probes <= b + 1:
            raise ValueError(
                f"n_probes must be in [1, n_bits+1={b + 1}], got {n_probes}"
            )
        w = np.array([1 << j for j in range(b)], dtype=np.int64)
        qrows = queries.select(query_id, query_vec).collect()
        probe = []
        for r in qrows:
            qv = np.array(r[1], dtype=np.float64)
            for t in range(L):
                proj = qv @ self.planes[t].T  # (b,)
                base = int((proj > 0) @ w)
                buckets = [base] + [
                    base ^ int(w[j])
                    for j in np.argsort(np.abs(proj))[: n_probes - 1]
                ]
                for bk in buckets:
                    probe.append((int(r[0]), list(r[1]), t, bk))
        spark = queries.sparkSession
        probes = spark.createDataFrame(
            probe, f"{query_id} long, __qvec array<double>, table int, bucket long"
        )
        base = self.assignments
        if predicate is not None:
            base = base.filter(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        cand = (
            base.join(F.broadcast(probes), ["table", "bucket"])
            .select(query_id, "__qvec", self.id_col, self.vec_col)
            .dropDuplicates([query_id, self.id_col])
        )
        if exclude_self:
            cand = cand.filter(F.col(self.id_col) != F.col(query_id))
        scored = cand.select(
            query_id,
            F.col(self.id_col),
            cosine_distance(F.col(self.vec_col), F.col("__qvec")).alias("distance"),
        )
        win = Window.partitionBy(query_id).orderBy(
            F.col("distance").asc(), F.col(self.id_col).asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select(query_id, F.col("rank").cast("long"), self.id_col, "distance")
        )
