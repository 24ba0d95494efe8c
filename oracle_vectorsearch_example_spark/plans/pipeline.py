"""End-to-end pipelines — the reference's two entry points, Spark-shaped.

EP1 (scripts/01_pdf_to_vector.sql): documents → extract text → chunk →
embed → doc_chunks. The reference chains UTL_TO_TEXT → UTL_TO_CHUNKS →
UTL_TO_EMBEDDINGS in one statement ("official recommended pattern",
01_pdf_to_vector.sql:121-128); here it's one lazy DataFrame — chunking is a
row-local generator and embedding is a column expression (hashing) or an
Arrow-batched stage (ONNX), so the whole pipeline is **shuffle-free** from
scan to sink.

EP3 (models/README.md:40 + the vector index): embed query text → top-k
similarity search, exact or IVF-pruned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oracle_vectorsearch_example_spark.functions.chunker import chunk_by_words
from oracle_vectorsearch_example_spark.functions.embedding import HashingEmbedder
from oracle_vectorsearch_example_spark.functions.extract import with_extracted_text
from oracle_vectorsearch_example_spark.functions.vectors import query_frame
from oracle_vectorsearch_example_spark.operators.search import topk_search

# chunk-key packing limits (doc_id · 2^20 + chunk_id below); rows beyond
# these raise at runtime instead of silently colliding
MAX_CHUNK_ID = 1 << 20
MAX_DOC_ID = 1 << 43


def ingest_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_words: int = 100,
    overlap: int = 10,
    embedder: HashingEmbedder | None = None,
) -> DataFrame:
    """documents → doc_chunks (chunked + embedded), the EP1 pipeline.

    Output: (doc_id, chunk_id, chunk_offset, chunk_length, chunk_text,
    embedding) — the doc_chunks shape of 01_pdf_to_vector.sql:67-77 minus
    audit columns (add created_at at write time, the DEFAULT SYSTIMESTAMP
    analog).
    """
    embedder = embedder or HashingEmbedder(dim=64)
    chunks = chunk_by_words(docs, text_col=text_col, id_cols=[id_col], max_words=max_words, overlap=overlap)
    return embedder.embed_df(chunks, "chunk_text", "embedding")


def ingest_binary_documents(
    docs: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    fmt: str = "auto",
    charset: str = "utf-8",
    engine: str = "auto",
    drop_unextractable: bool = True,
    **ingest_kwargs,
) -> DataFrame:
    """EP1 from raw bytes: the reference's full chain UTL_TO_TEXT →
    UTL_TO_CHUNKS → UTL_TO_EMBEDDINGS (01_pdf_to_vector.sql:196-242) —
    text extraction (D1) prepended to :func:`ingest_documents`.

    Extraction is an Arrow-batched row-local stage, so the binary pipeline
    stays shuffle-free scan → sink like the text one. Payloads in
    unsupported formats extract to NULL and are dropped by default
    (``drop_unextractable=False`` keeps them for quarantine sinks).
    """
    txt = with_extracted_text(
        docs, content_col=content_col, out_col="text", fmt=fmt, charset=charset, engine=engine
    )
    if drop_unextractable:
        txt = txt.filter(F.col("text").isNotNull())
    return ingest_documents(txt.drop(content_col), text_col="text", id_col=id_col, **ingest_kwargs)


def search_text(
    doc_chunks: DataFrame,
    query_texts: list[str],
    k: int = 10,
    metric: str = "cosine",
    embedder: HashingEmbedder | None = None,
    predicate=None,
) -> DataFrame:
    """EP3: embed query strings, top-k nearest chunks per query.

    Returns (qid, rank, doc_id, chunk_id, distance); qid is the 0-based
    position of the query string. ``predicate`` (Column/SQL over the
    doc_chunks columns) is the reference's filtered-search idiom
    (``WHERE ... ORDER BY VECTOR_DISTANCE ... FETCH FIRST k``,
    01_pdf_to_vector.sql:84-97) — applied BEFORE the top-k, so k
    qualifying chunks return.
    """
    embedder = embedder or HashingEmbedder(dim=64)
    q = _query_frame(doc_chunks.sparkSession, embedder, query_texts)
    base = _with_chunk_key(doc_chunks)
    hits = topk_search(
        base, q, k=k, metric=metric, base_id="__chunk_key", base_vec="embedding",
        query_id="qid", query_vec="qvec", predicate=predicate,
    )
    return _unpack_chunk_key(hits)


def _query_frame(spark, embedder, query_texts: list[str]) -> DataFrame:
    """``(qid long, qvec array<double>)`` for the query strings, as a local
    relation. Queries are small by contract: they embed driver-side (the
    same function as the distributed UDF), and the search's query collect
    then runs no Spark job either."""
    import numpy as np

    qvecs = np.asarray(embedder.embed_texts(query_texts), dtype=np.float64)
    return query_frame(spark, np.arange(len(query_texts)), qvecs)


def _with_chunk_key(doc_chunks: DataFrame) -> DataFrame:
    """Numeric composite key (doc_id · 2^20 + chunk_id): distance ties
    break on (doc_id, chunk_id) numerically — reproducible in plain SQL
    oracles, unlike a string key whose lexicographic order differs
    ("10:2" < "2:1"). Packing overflows (≥2^20 chunks in one doc,
    doc_id ≥ 2^43) would silently collide keys, so out-of-range rows
    raise instead."""
    pack_ok = (
        (F.col("chunk_id") >= 0)
        & (F.col("chunk_id") < F.lit(MAX_CHUNK_ID))
        & (F.col("doc_id") >= 0)
        & (F.col("doc_id") < F.lit(MAX_DOC_ID))
    )
    return doc_chunks.withColumn(
        "__chunk_key",
        F.when(pack_ok, (F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_id")).cast("long")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("chunk key packing out of range: doc_id="),
                    F.col("doc_id").cast("string"),
                    F.lit(" chunk_id="),
                    F.col("chunk_id").cast("string"),
                )
            )
        ),
    )


def _unpack_chunk_key(hits: DataFrame) -> DataFrame:
    key = F.col("__chunk_key")
    return hits.select(
        "qid",
        "rank",
        F.shiftright(key, 20).cast("long").alias("doc_id"),
        (key % F.lit(1 << 20)).cast("int").alias("chunk_id"),
        "distance",
    )


def build_chunk_index(
    doc_chunks: DataFrame,
    n_clusters: int | None = None,
    path: str | None = None,
    seed: int = 42,
    payload_cols: list[str] | None = None,
):
    """Build the IVF index over a doc_chunks table — the
    ``CREATE VECTOR INDEX idx_doc_chunks_embedding`` analog
    (01_pdf_to_vector.sql:93-97): chunk identity is the packed
    (doc_id, chunk_id) key, vectors are the embedding column. Pass
    ``path`` to materialize partitionBy(cluster_id) for pruned probes."""
    from oracle_vectorsearch_example_spark.operators.ivf import IvfIndex

    base = _with_chunk_key(doc_chunks).select(
        "__chunk_key", "embedding", *(payload_cols or [])
    )
    return IvfIndex.build(
        base,
        id_col="__chunk_key",
        vec_col="embedding",
        n_clusters=n_clusters,
        path=path,
        seed=seed,
        payload_cols=payload_cols,
    )


def search_text_ivf(
    index,
    query_texts: list[str],
    k: int = 10,
    nprobe: int = 4,
    embedder: HashingEmbedder | None = None,
    predicate=None,
) -> DataFrame:
    """EP3, IVF mode (SURVEY §3: ``mode="exact" | "ivf"``): embed query
    strings, probe a :func:`build_chunk_index` index. Same output shape
    as :func:`search_text`; with nprobe = n_clusters the two agree
    exactly (tested). Cosine metric — the index's distance
    (01_pdf_to_vector.sql:96)."""
    embedder = embedder or HashingEmbedder(dim=64)
    q = _query_frame(index.assignments.sparkSession, embedder, query_texts)
    hits = index.search(q, k=k, nprobe=nprobe, predicate=predicate)
    if index.id_col != "__chunk_key":
        hits = hits.withColumnRenamed(index.id_col, "__chunk_key")
    return _unpack_chunk_key(hits)


def write_doc_chunks(df: DataFrame, path: str, dim: int | None = None) -> None:
    """Sink with the created_at default (01_pdf_to_vector.sql:73).

    ``dim`` enforces the fixed vector width at write time — the
    ``VECTOR(384, FLOAT32)`` declaration's analog (01_pdf_to_vector.sql:72):
    any row whose embedding is NULL or of a different length raises,
    mirroring Oracle rejecting a dimension-mismatched insert.
    """
    if dim is not None:
        dim_ok = F.col("embedding").isNotNull() & (F.size("embedding") == F.lit(int(dim)))
        df = df.withColumn(
            "embedding",
            F.when(dim_ok, F.col("embedding")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"embedding dimension violation (expected {int(dim)}, got "),
                        F.coalesce(F.size("embedding").cast("string"), F.lit("NULL")),
                        F.lit(")"),
                    )
                )
            ),
        )
    df.withColumn("created_at", F.current_timestamp()).write.mode("overwrite").parquet(path)
