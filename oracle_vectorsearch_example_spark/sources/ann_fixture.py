"""Synthetic ANN fixture at a scale where an IVF index can demonstrate a
win over the exact scan (VERDICT r4 next-round #1).

The driver testdata's embeddings table tops out at 2,000×64 vectors —
below any ANN crossover, so ``ivf_search`` benched *slower* than exact
there. This module generates a seeded, deterministic, CLUSTERED vector
table (mixture of ``n_centers`` unit directions + Gaussian noise,
L2-normalized) big enough that scan cost dominates fixed overhead:

- clustered, because real embedding corpora are (that is the entire
  premise of IVF / "NEIGHBOR PARTITIONS", 01_pdf_to_vector.sql:93-97);
  uniform random high-dim vectors have no neighborhood structure and
  make any ANN method look useless;
- deterministic per row id (counter-based hash Gaussians keyed
  ``(seed, vec_id, dim_index)`` — splitmix64 + Box-Muller, fully
  vectorized), so the fixture is identical regardless of partitioning,
  task order, batch boundaries, or rebuilds, and generates ~1M rows in
  seconds;
- generated DISTRIBUTED (mapInPandas over ``spark.range``) and written
  once — ``ensure_ann_fixture`` is idempotent, keyed by the parameter
  tuple in the directory name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from oracle_vectorsearch_example_spark.functions.vectors import query_frame
from oracle_vectorsearch_example_spark.sources.txn import Warehouse

DEFAULT_N = 4_000_000
DEFAULT_DIM = 64
DEFAULT_CENTERS = 1024
# noise 1.2 (relative to unit centers): clusters overlap enough that the
# recall-vs-nprobe curve is non-trivial (recall@10 ≈ 0.95 at nprobe=1,
# ≈ 0.99 at nprobe=8 with 1024 index clusters) — at ≤0.8 every nprobe
# recalls 1.0 and the gate proves nothing
DEFAULT_NOISE = 1.2
DEFAULT_SEED = 7
DEFAULT_INDEX_CLUSTERS = 1024


def _hash_gaussians(ids, dim: int, seed: int):
    """Deterministic standard normals, shape (len(ids), dim), keyed only by
    (seed, id, dim_index): splitmix64 over a per-cell counter gives two
    uniforms, Box-Muller turns them into a Gaussian. All-numpy — no per-row
    Generator construction (which is ~15µs/row and dominates at 1M rows)."""
    import numpy as np

    def mix(z):
        # shift counts must be uint64: numpy refuses mixed-sign uint64>>int
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    with np.errstate(over="ignore"):  # uint64 wraparound is the algorithm
        cell = ids.astype(np.uint64)[:, None] * np.uint64(dim) + np.arange(
            dim, dtype=np.uint64
        )
        base = cell * np.uint64(0x9E3779B97F4A7C15) + mix(
            np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
        )
        h1 = mix(base)
        h2 = mix(base + np.uint64(0x9E3779B97F4A7C15))
    # 53-bit mantissa uniforms in (0,1]; u1 strictly >0 so log is finite
    u1 = ((h1 >> np.uint64(11)).astype(np.float64) + 1.0) * 2.0**-53
    u2 = (h2 >> np.uint64(11)).astype(np.float64) * 2.0**-53
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)


def _fixture_dir(base: str, n: int, dim: int, n_centers: int, noise: float, seed: int) -> str:
    tag = f"n{n}_d{dim}_c{n_centers}_z{noise:g}_s{seed}"
    return f"{base.rstrip('/')}/{tag}"


def generate_ann_vectors(
    spark: SparkSession,
    n: int = DEFAULT_N,
    dim: int = DEFAULT_DIM,
    n_centers: int = DEFAULT_CENTERS,
    noise: float = DEFAULT_NOISE,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Distributed deterministic generation: ``(vec_id, embedding)`` with
    ``embedding = normalize(center[vec_id % n_centers] + noise·g(vec_id))``.
    Row content depends only on (params, vec_id) — never on partitioning."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_centers, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    centers_list = centers.tolist()

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np

        c = np.array(centers_list, dtype=np.float64)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            g = _hash_gaussians(ids, dim, seed)
            # noise/sqrt(dim): per-component scaling so the NOISE VECTOR's
            # expected norm is `noise` relative to the unit center —
            # otherwise at dim=64 a 0.35 per-component sigma gives a
            # norm-2.8 noise vector that swamps the cluster structure
            v = c[ids % n_centers] + (noise / np.sqrt(dim)) * g
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": [row.astype(np.float32) for row in v]}
            )

    # numPartitions pinned: deterministic content anyway, but a stable task
    # count keeps generation time predictable across environments
    return spark.range(0, n, 1, 32).mapInPandas(
        run, schema="vec_id long, embedding array<float>"
    )


def ann_query_frame(
    spark: SparkSession,
    ids: list[int],
    dim: int = DEFAULT_DIM,
    n_centers: int = DEFAULT_CENTERS,
    noise: float = DEFAULT_NOISE,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Tiny query frame ``(qid long, qvec array<float>)`` holding the
    EXACT fixture vectors for the given ids, computed driver-side from the
    same deterministic formula — a local relation (``query_frame``), so
    neither a scan nor a collect of it runs a Spark job. Benching an ANN
    search must not pay a full-table scan just to fetch 16 query vectors
    (that scan would be charged to the INDEXED path and erase its win)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_centers, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    arr = np.asarray(ids, dtype=np.int64)
    g = _hash_gaussians(arr, dim, seed)
    v = centers[arr % n_centers] + (noise / np.sqrt(dim)) * g
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return query_frame(spark, arr, v.astype(np.float32))


def ensure_ann_fixture(
    spark: SparkSession,
    base_dir: str,
    n: int = DEFAULT_N,
    dim: int = DEFAULT_DIM,
    n_centers: int = DEFAULT_CENTERS,
    noise: float = DEFAULT_NOISE,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Idempotent build-once: write the fixture under a parameter-keyed
    dir (skipped when its ``_SUCCESS`` marker exists) and return a reader
    DataFrame. 32 output files — one per local core, so the exact-scan
    baseline it feeds gets FULL parallelism (an 8-file layout would
    handicap the exact side 4× and flatter the index dishonestly)."""
    path = _fixture_dir(base_dir, n, dim, n_centers, noise, seed)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    marker = jvm.org.apache.hadoop.fs.Path(f"{path}/_SUCCESS")
    fs = marker.getFileSystem(conf)
    if not fs.exists(marker):
        generate_ann_vectors(spark, n, dim, n_centers, noise, seed).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def ensure_ann_index(
    spark: SparkSession,
    base_dir: str,
    n: int = DEFAULT_N,
    dim: int = DEFAULT_DIM,
    n_centers: int = DEFAULT_CENTERS,
    noise: float = DEFAULT_NOISE,
    seed: int = DEFAULT_SEED,
    n_clusters: int = DEFAULT_INDEX_CLUSTERS,
    index_seed: int = 42,
    sample_per_cluster: int = 64,
):
    """Idempotent IVF index over the fixture, cached beside it under a
    parameter-keyed dir. The cold build (sample-KMeans + one full assign
    pass + partitioned write) runs once (~5 min at 4M×64 on local[32]);
    every later call is a metadata ``load``."""
    from oracle_vectorsearch_example_spark.operators.ivf import IvfIndex

    fixture = ensure_ann_fixture(spark, base_dir, n, dim, n_centers, noise, seed)
    path = (
        _fixture_dir(base_dir, n, dim, n_centers, noise, seed)
        + f"__ivf_k{n_clusters}_s{index_seed}"
    )
    if Warehouse(spark, path).current_version() is not None:
        return IvfIndex.load(spark, path)
    return IvfIndex.build(
        fixture,
        path=path,
        n_clusters=n_clusters,
        seed=index_seed,
        sample_per_cluster=sample_per_cluster,
    )


def ensure_hnsw_index(
    spark: SparkSession,
    base_dir: str,
    n: int = DEFAULT_N,
    dim: int = DEFAULT_DIM,
    n_centers: int = DEFAULT_CENTERS,
    noise: float = DEFAULT_NOISE,
    seed: int = DEFAULT_SEED,
    n_shards: int = 32,
    m: int = 16,
    ef_construction: int = 100,
    index_seed: int = 42,
):
    """Idempotent sharded-HNSW index over the fixture, cached beside it
    under a parameter-keyed dir. The cold build runs the per-shard graph
    constructions as one 32-task job (~2 s/1000 vectors/shard; shards
    build in parallel); every later call is a metadata ``load``."""
    from oracle_vectorsearch_example_spark.operators.hnsw import (
        ShardedHnswIndex,
    )

    fixture = ensure_ann_fixture(spark, base_dir, n, dim, n_centers, noise, seed)
    path = (
        _fixture_dir(base_dir, n, dim, n_centers, noise, seed)
        + f"__hnsw_s{n_shards}_m{m}_efc{ef_construction}_s{index_seed}"
    )
    if Warehouse(spark, path).current_version() is not None:
        return ShardedHnswIndex.load(spark, path)
    return ShardedHnswIndex.build(
        fixture,
        n_shards=n_shards,
        m=m,
        ef_construction=ef_construction,
        seed=index_seed,
        path=path,
    )
