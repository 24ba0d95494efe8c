"""The benchmark's two workloads over the engine's public API.

A workload's constructor makes its seeded inputs and what the measured
loop starts from (the set-up). Before each measured phase ``warmup()``
puts the phase's start state in place and runs untimed ops on it, and
``run_phase(seconds)`` is a closed loop with one client: it times each op, checks its output against
an independent driver-side answer, and counts every op that raised or
failed a check. Both workloads end their ops in 16-query EP3 batches of the
same three kinds (exact, ivf, filtered), so every end-to-end metric is
measured on both.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from tracing import SparkCounts, Tracer, mean

K = 10  # neighbours per query
Q = 16  # queries per batch
KINDS = ("exact", "ivf", "filtered")
DIM = 64
MIN_RECALL = 0.5  # a sanity floor; the measured recall is a metric

# ingest: EP1 over seeded one-page PDFs, then EP3 on the index it built
N_DOCS = 80
WORDS = 600
MIN_PASSES = 2  # EP1 passes a phase measures at least, however slow
PASS_SHARE = 0.25  # of the phase's seconds spent on passes; the rest on batches
MIN_BATCH_ROUNDS = 3  # rounds of one batch per kind, on the last pass's index
INGEST_NPROBE = 8  # of the ~sqrt(chunks) = 23 clusters build_chunk_index picks
DOC_GROUPS = 4  # filtered: WHERE the chunk's doc is in one of 4 groups

# churn: EP3 on one materialized IVF index between adds and compactions
N_BASE = 10_000
N_CENTERS = 32  # generator centres, one per index cluster
N_CLUSTERS = 32
TOPICS = 2  # centres a batch's 16 queries are drawn from, 8 queries each
CHURN_NPROBE = 2
ADD_SIZE = 1_000
ROUNDS_PER_CYCLE = 2  # rounds of one batch of each kind between add and compact
MIN_CYCLES = 2  # a phase measures at least 2 cycles: 4 batches per kind
# Rounds of the untimed cycle before a phase. The first phase of a run
# warms the JVM and the Python workers too: after one round, batches still
# ran ~20 % slower than from the third round on.
WARMUP_ROUNDS_COLD = 2
WARMUP_ROUNDS = 1
N_TENANTS = 16
QUERY_ID0 = 50_000_000  # a multiple of N_CENTERS; never a base or added id
ADD_ID0 = 10_000_000
WARMUP_BATCH0 = 10_000  # warm-up queries differ from the measured ones
# Tenant of a vector id, computed the same way in Spark and in numpy, and
# independent of the id's cluster centre (ids * a large odd constant).
TENANT_SQL = f"CAST(pmod((vec_id * 2654435761) div 128, {N_TENANTS}) AS INT)"


def tenant_of(ids: np.ndarray) -> np.ndarray:
    return (ids.astype(np.int64) * 2654435761 // 128) % N_TENANTS


def tree_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def live_files(idx) -> tuple[int, int]:
    """Files and bytes of the dirs the handle reads; superseded dirs that
    ``compact`` leaves on disk are not counted."""
    files = size = 0
    for d in idx.data_dirs:
        f, s = tree_files(os.path.join(idx.path, d))
        files += f
        size += s
    return files, size


def cluster_files(idx, clusters) -> int:
    n = 0
    for d in idx.data_dirs:
        for c in clusters:
            n += tree_files(os.path.join(idx.path, d, f"cluster_id={c}"))[0]
    return n


def probed_clusters(idx, qvecs: np.ndarray, nprobe: int) -> set[int]:
    """Clusters a batch probes, from the index's public centroids."""
    ordered = sorted(idx.centroids)
    c = np.array([v for _, v in ordered], dtype=np.float64)
    cids = np.array([cid for cid, _ in ordered])
    q = qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)
    d2 = -2.0 * q @ c.T + (c * c).sum(axis=1)[None, :]
    top = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
    return {int(x) for x in cids[top].ravel()}


def cluster_rows(idx) -> dict[int, int]:
    rows = idx.assignments.groupBy("cluster_id").count().collect()
    return {int(r[0]): int(r[1]) for r in rows}


class Truth:
    """Driver-side brute force over every vector the index holds."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = ids.astype(np.int64)
        self.x = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)

    def extend(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = np.concatenate([self.ids, ids.astype(np.int64)])
        self.x = np.vstack([self.x, vecs / np.linalg.norm(vecs, axis=1, keepdims=True)])

    def topk(self, qvecs: np.ndarray):
        q = qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)
        dist = 1.0 - q @ self.x.T
        out = []
        for row in dist:
            order = np.lexsort((self.ids, row))[:K]
            out.append((self.ids[order], row[order]))
        return out


def by_query(rows, id_col: str) -> dict[int, list[tuple[int, float]]]:
    got: dict[int, list] = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        got[int(r["qid"])].append((int(r[id_col]), float(r["distance"])))
    return got


def exact_problems(got, qids, truth_rows) -> list[str]:
    """Ranks must carry the brute-force distances; ids may differ only
    where two distances tie."""
    bad = []
    for qid, (tids, tdist) in zip(qids, truth_rows):
        hits = got.get(int(qid), [])
        if len(hits) != len(tids):
            bad.append(f"q{qid}: {len(hits)} rows, want {len(tids)}")
            continue
        for r, ((hid, hd), tid, td) in enumerate(zip(hits, tids, tdist)):
            if abs(hd - td) > 1e-9 or (hid != tid and abs(hd - tdist[min(r + 1, len(tdist) - 1)]) > 1e-12 and abs(hd - tdist[max(r - 1, 0)]) > 1e-12):
                bad.append(f"q{qid} rank {r + 1}: ({hid}, {hd:.12f}) want ({tid}, {td:.12f})")
                break
    return bad


class Phase:
    """What one measured loop produced."""

    def __init__(self):
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.series: dict[str, list[float]] = defaultdict(list)
        self.spark: dict[str, list[dict]] = defaultdict(list)


class Bench:
    """Shared harness: the session, the op boundary, failure counts and the
    EP3 batch both workloads run."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = Tracer(False)
        self.counts = SparkCounts(spark.sparkContext, False)
        self.attempted = 0
        self.failed = 0
        self.phase = Phase()

    def set_tracing(self, on: bool) -> None:
        self.tracer.enabled = on
        self.counts.enabled = on

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, kind: str, fn):
        """One timed op; returns ``fn()`` or None when it raised."""
        self.attempted += 1
        self.tracer.op_id, self.tracer.op_kind = self.attempted, kind
        group = self.counts.begin(kind)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", kind=kind):
                out = fn()
        except Exception:  # the loop must go on; the op counts as failed
            self.fail(f"{kind} raised:\n{traceback.format_exc()}")
            out = None
        else:
            self.phase.lat[kind].append(time.perf_counter() - t0)
        finally:
            c = self.counts.end(group)
            if c is not None:
                self.phase.spark[kind].append(c)
            self.tracer.op_id = self.tracer.op_kind = None
        return out

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"[perfbench] FAILED: {what}", file=sys.stderr, flush=True)

    def check(self, problems: list[str], what: str) -> None:
        """Fails the op just run when its output check found problems."""
        if problems:
            self.fail(f"{what}: " + "; ".join(problems[:3]))

    def verify(self, problems: list[str], what: str) -> None:
        """A run-level check, counted as an attempt of its own."""
        self.attempted += 1
        self.check(problems, what)

    # -- EP3: one 16-query batch, one span per call into the engine
    def _search(self, idx, kind: str, frame, nprobe: int, predicate: str):
        from oracle_vectorsearch_example_spark.operators.search import topk_search

        tr = self.tracer
        if kind == "exact":
            with tr.span("search.topk"):
                return topk_search(idx.assignments, frame, k=K, base_id=idx.id_col).collect()
        with tr.span("ivf.plan"):
            df = idx.search(
                frame, k=K, nprobe=nprobe, predicate=predicate if kind == "filtered" else None
            )
        with tr.span("ivf.exec"):
            return df.collect()

    def batch(self, idx, kind, frame, qids, qvecs, truth, nprobe, predicate, allowed, counts):
        """Times one batch of ``kind`` on ``idx`` and checks it: ``exact``
        equals the brute force, ``ivf`` is scored as recall against it, and
        ``filtered`` returns k rows per query that all satisfy
        ``predicate`` (``allowed(ids)`` tells which ids do). ``counts`` are
        the index's rows per cluster, for the traced run's scan counts."""
        rows = self.op(kind, lambda: self._search(idx, kind, frame, nprobe, predicate))
        if rows is None:
            return
        got = by_query(rows, idx.id_col)
        s = self.phase.series
        if kind == "exact":
            self.check(exact_problems(got, qids, truth.topk(qvecs)), "exact batch")
        elif kind == "ivf":
            for qid, (tids, _) in zip(qids, truth.topk(qvecs)):
                s["recall_hits"].append(len({i for i, _ in got.get(int(qid), [])} & set(tids.tolist())))
                s["recall_total"].append(len(tids))
        else:
            self.check(
                [
                    f"q{q}: {len(got.get(int(q), []))} rows, or one outside `{predicate}`"
                    for q in qids
                    if len(got.get(int(q), [])) != K
                    or not allowed(np.array([i for i, _ in got[int(q)]])).all()
                ],
                "filtered batch",
            )
        if self.tracer.enabled:
            if kind == "exact":
                n = sum(counts.values())  # one scan reads every live row
                s["topk_rows_per_query"].append(n / len(qids))
                s["topk_bytes"].append(live_files(idx)[1])
                s["topk_flops"].append(2.0 * len(qids) * n * DIM)
            else:
                probed = probed_clusters(idx, qvecs, nprobe)
                s["probed"].append(len(probed))
                s["rows_per_query"].append(sum(counts.get(c, 0) for c in probed) / len(qids))
                s["files_per_batch"].append(cluster_files(idx, probed))
                s["data_dirs"].append(len(idx.data_dirs))
                s["files_per_cluster"].append(live_files(idx)[0] / len(idx.centroids))


# --------------------------------------------------------------------- ingest
class Ingest:
    """EP1: PDFs -> extract -> chunk -> embed -> doc_chunks -> IVF build,
    one full pass per op; after the timed passes, EP3 batches on the index
    the last pass built."""

    n_docs = N_DOCS

    def __init__(self, b: Bench):
        from oracle_vectorsearch_example_spark.functions.extract import make_simple_pdf
        from oracle_vectorsearch_example_spark.sources.corpus_fixture import doc_text

        self.b = b
        self.texts = {d: doc_text(d, words=WORDS, seed=b.seed) for d in range(N_DOCS)}
        self.pdfs = [(d, bytearray(make_simple_pdf(t))) for d, t in self.texts.items()]
        self.bytes_in = sum(len(p) for _, p in self.pdfs)
        # chunk count from the chunker's formula: max(1, ceil((n - 10) / 90))
        self.expected_chunks = sum(
            max(1, math.ceil((len(t.split()) - 10) / 90)) for t in self.texts.values()
        )
        path = b.path("ingest", "docs")
        b.spark.createDataFrame(self.pdfs, "doc_id long, content binary").write.parquet(path)
        self.docs = b.spark.read.parquet(path)
        self.passes = 0

    def warmup(self) -> None:
        """One untimed pass and one untimed batch of each kind."""
        chunks_path, idx = self._pass()
        self._searches(chunks_path, idx, WARMUP_BATCH0, 1, 0.0)

    def _pass(self):
        from oracle_vectorsearch_example_spark.plans.pipeline import (
            build_chunk_index,
            ingest_binary_documents,
            write_doc_chunks,
        )

        spark, tr = self.b.spark, self.b.tracer
        self.passes += 1
        chunks_path = self.b.path("ingest", f"pass{self.passes}", "chunks")
        index_path = self.b.path("ingest", f"pass{self.passes}", "index")
        if tr.enabled:
            self._traced_ingest(chunks_path)
        else:
            write_doc_chunks(ingest_binary_documents(self.docs), chunks_path, dim=DIM)
        with tr.span("pipeline.build"), tr.span("ivf.build"):
            idx = build_chunk_index(
                spark.read.parquet(chunks_path), path=index_path, seed=self.b.seed
            )
        self.built = idx
        return chunks_path, idx

    def _traced_ingest(self, chunks_path: str) -> None:
        """The EP1 chain one layer at a time. Spark is lazy, so a span
        around ``ingest_binary_documents`` would time plan building only;
        here each layer's output is materialized (``localCheckpoint``)
        inside its own span. What this costs over the fused plan shows as
        ``trace.overhead_frac``."""
        from oracle_vectorsearch_example_spark.functions.chunker import chunk_by_words
        from oracle_vectorsearch_example_spark.functions.embedding import HashingEmbedder
        from oracle_vectorsearch_example_spark.functions.extract import with_extracted_text
        from oracle_vectorsearch_example_spark.plans.pipeline import write_doc_chunks

        tr = self.b.tracer
        with tr.span("pipeline.ingest"):
            with tr.span("extract") as s:
                txt = with_extracted_text(self.docs)
                txt = txt.filter(F.col("text").isNotNull()).drop("content").localCheckpoint()
                s["rows"] = txt.count()
            with tr.span("chunker"):
                ch = chunk_by_words(txt, max_words=100, overlap=10).localCheckpoint()
            with tr.span("embedding"):
                emb = HashingEmbedder(dim=DIM).embed_df(ch, "chunk_text").localCheckpoint()
            with tr.span("pipeline.sink"):
                write_doc_chunks(emb, chunks_path, dim=DIM)

    def run_phase(self, seconds: float) -> None:
        """EP1 passes for the first quarter of ``seconds``, then rounds of
        one batch of each kind on the last pass's index until ``seconds``
        have passed."""
        b = self.b
        s = b.phase.series
        start = time.perf_counter()
        last = None
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - start < seconds * PASS_SHARE:
            passes += 1
            out = b.op("pass", self._pass)
            if out is not None:
                chunks_path, idx = out
                n_chunks = self._check_pass(chunks_path)
                s["write_rate"].append(n_chunks / b.phase.lat["pass"][-1])
                if n_chunks:
                    s["bytes_per_vec"].append(live_files(idx)[1] / n_chunks)
                    s["sink_bytes_per_chunk"].append(tree_files(chunks_path)[1] / n_chunks)
                s["n_chunks"].append(n_chunks)
                last = chunks_path, idx
        if last is not None:
            self._searches(*last, 0, MIN_BATCH_ROUNDS, seconds - (time.perf_counter() - start))

    def _check_pass(self, chunks_path: str) -> int:
        """Chunk count from the formula, width-64 unit-norm embeddings, and
        one sampled doc's first chunk equal to its source text."""
        sample = (self.b.seed * 7919 + self.passes) % N_DOCS
        sq = F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
        first = (F.col("doc_id") == sample) & (F.col("chunk_id") == 1)
        row = (
            self.b.spark.read.parquet(chunks_path)
            .agg(
                F.count("*"),
                F.min(F.size("embedding")),
                F.max(F.size("embedding")),
                F.max(F.abs(sq - 1.0)),
                F.max(F.when(first, F.col("chunk_text"))),
            )
            .first()
        )
        n, wmin, wmax, norm_err, text = row
        want_text = " ".join(self.texts[sample].split()[:100])
        problems = []
        if n != self.expected_chunks:
            problems.append(f"{n} chunks, want {self.expected_chunks}")
        if (wmin, wmax) != (DIM, DIM):
            problems.append(f"embedding width {wmin}..{wmax}, want {DIM}")
        if norm_err is None or norm_err > 1e-9:
            problems.append(f"embedding norm off by {norm_err}")
        if text != want_text:
            problems.append(f"doc {sample} chunk 1 text differs from its source")
        self.b.check(problems, "ingest pass")
        return int(n or 0)

    def _searches(self, chunks_path: str, idx, batch0: int, n: int, seconds: float) -> None:
        """Rounds of one batch of each kind, at least ``n`` and until
        ``seconds`` have passed; the queries are 16 seeded chunks of the
        table, the brute force runs over all of it."""
        b = self.b
        start = time.perf_counter()
        pdf = b.spark.read.parquet(chunks_path).select("doc_id", "chunk_id", "embedding").toPandas()
        keys = pdf["doc_id"].to_numpy(np.int64) * (1 << 20) + pdf["chunk_id"].to_numpy(np.int64)
        vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        truth = Truth(keys, vecs)
        counts = cluster_rows(idx) if b.tracer.enabled else {}
        i = batch0
        while i < batch0 + n or time.perf_counter() - start < seconds:
            rng = np.random.default_rng([b.seed, i])
            pick = rng.choice(len(keys), size=Q, replace=False)
            qids, qvecs = keys[pick], vecs[pick]
            frame = b.spark.createDataFrame(
                [(int(k), v.tolist()) for k, v in zip(qids, qvecs)], "qid long, qvec array<double>"
            )
            group = i % DOC_GROUPS
            predicate = f"pmod(__chunk_key div {1 << 20}, {DOC_GROUPS}) = {group}"
            for kind in KINDS:
                b.batch(
                    idx, kind, frame, qids, qvecs, truth, INGEST_NPROBE, predicate,
                    lambda ids: (ids >> 20) % DOC_GROUPS == group, counts,
                )
            i += 1


# ---------------------------------------------------------------------- churn
def churn_query_ids(batch: int) -> list[int]:
    """A batch's 16 query ids: ``Q // TOPICS`` queries on each of ``TOPICS``
    generator centres (the generator maps an id to centre id % N_CENTERS),
    a batch of related queries like one interactive session's."""
    per = Q // TOPICS
    return [
        QUERY_ID0 + N_CENTERS * (batch * per + r) + (batch * TOPICS + j) % N_CENTERS
        for j in range(TOPICS)
        for r in range(per)
    ]


class Churn:
    """EP3 batch search on an index that takes writes. A cycle is
    ``IvfIndex.add``, two rounds of one 16-query batch of each kind, and
    ``compact``, so
    every batch reads a compacted base plus one freshly added data dir, the
    state an index under steady ingestion spends its time in. Every run
    measures whole cycles."""

    n_docs = 0

    def __init__(self, b: Bench):
        """The seeded input table (vec_id, embedding, tenant), its
        driver-side copy for the brute force, and the base index."""
        from oracle_vectorsearch_example_spark.operators.ivf import IvfIndex
        from oracle_vectorsearch_example_spark.sources.ann_fixture import generate_ann_vectors

        self.b = b
        self.gen = {"dim": DIM, "n_centers": N_CENTERS, "seed": b.seed}
        path = b.path("vectors")
        df = generate_ann_vectors(b.spark, n=N_BASE, **self.gen)
        # the generator fixes 32 partitions; one task per core does the same work
        df = df.coalesce(b.spark.sparkContext.defaultParallelism)
        df.withColumn("tenant", F.expr(TENANT_SQL)).write.parquet(path)
        self.input = b.spark.read.parquet(path)
        pdf = self.input.select("vec_id", "embedding").toPandas()
        self.base_truth = (
            pdf["vec_id"].to_numpy(),
            np.stack(pdf["embedding"].to_numpy()).astype(np.float64),
        )
        with b.tracer.span("ivf.build"):
            self.base = IvfIndex.build(
                self.input, n_clusters=N_CLUSTERS, path=b.path("base"),
                seed=b.seed, payload_cols=["tenant"],
            )
        self.built = self.base
        self.copies = 0

    def warmup(self) -> None:
        """A copy of the built index, so every phase starts from the same
        state, a brute force over its vectors, and one untimed cycle on
        the copy (with two rounds in a run's first phase): the first ops on
        a fresh copy, and in a fresh JVM, run slower."""
        from oracle_vectorsearch_example_spark.operators.ivf import IvfIndex

        self.copies += 1
        path = self.b.path(f"churn{self.copies}")
        shutil.copytree(self.base.path, path)
        self.idx = IvfIndex.load(self.b.spark, path)
        self.truth = Truth(*self.base_truth)
        self.counts = {}
        self.added = 0
        rounds = WARMUP_ROUNDS_COLD if self.copies == 1 else WARMUP_ROUNDS
        self._cycle(ADD_ID0 - ADD_SIZE, list(range(WARMUP_BATCH0, WARMUP_BATCH0 + rounds)))

    def _cycle(self, add_id0: int, batches: list[int]) -> None:
        """add, a round of one batch of each kind per entry of ``batches``,
        compact; the write rate is the vectors added over the time of the
        add and the compaction."""
        add_s = self._add(add_id0)
        for batch in batches:
            self._searches(batch)
        compact_s = self._compact()
        if add_s is not None and compact_s is not None:
            self.b.phase.series["write_rate"].append(ADD_SIZE / (add_s + compact_s))

    def _add(self, id0: int) -> float | None:
        from oracle_vectorsearch_example_spark.sources.ann_fixture import ann_query_frame

        b = self.b
        ids = list(range(id0, id0 + ADD_SIZE))
        frame = ann_query_frame(b.spark, ids, **self.gen)
        vecs = np.array([r["qvec"] for r in frame.collect()], dtype=np.float64)
        frame = frame.select(F.col("qid").alias("vec_id"), F.col("qvec").alias("embedding"))
        frame = frame.withColumn("tenant", F.expr(TENANT_SQL))

        def add():
            with b.tracer.span("ivf.add"):
                return self.idx.add(frame, tag=str(id0))

        new = b.op("add", add)
        if new is None:
            return None
        self.idx = new
        self.truth.extend(np.array(ids), vecs)
        self.added += ADD_SIZE
        self._state()
        if b.tracer.enabled:
            b.phase.series["add_files_written"].append(
                tree_files(os.path.join(self.idx.path, self.idx.data_dirs[-1]))[0]
            )
        return b.phase.lat["add"][-1]

    def _compact(self) -> float | None:
        def compact():
            with self.b.tracer.span("ivf.compact"):
                return self.idx.compact()

        new = self.b.op("compact", compact)
        if new is None:
            return None
        self.idx = new
        self._state()
        return self.b.phase.lat["compact"][-1]

    def _state(self) -> None:
        """Index shape after a write: live bytes per vector, and for the
        traced run the rows per cluster."""
        self.b.phase.series["bytes_per_vec"].append(live_files(self.idx)[1] / (N_BASE + self.added))
        if self.b.tracer.enabled:
            self.counts = cluster_rows(self.idx)

    def _searches(self, batch: int) -> None:
        from oracle_vectorsearch_example_spark.sources.ann_fixture import ann_query_frame

        b = self.b
        qids = np.array(churn_query_ids(batch))
        frame = ann_query_frame(b.spark, qids.tolist(), **self.gen)
        qvecs = np.array([r["qvec"] for r in frame.collect()], dtype=np.float64)
        tenant = batch % N_TENANTS
        for kind in KINDS:
            b.batch(
                self.idx, kind, frame, qids, qvecs, self.truth, CHURN_NPROBE,
                f"tenant = {tenant}", lambda ids: tenant_of(ids) == tenant, self.counts,
            )

    def run_phase(self, seconds: float) -> None:
        """Whole cycles until ``seconds`` have passed, at least
        ``MIN_CYCLES``. Every phase sees the same adds and queries."""
        if self.b.tracer.enabled:
            self.counts = cluster_rows(self.idx)
        cycle = 0
        start = time.perf_counter()
        while cycle < MIN_CYCLES or time.perf_counter() - start < seconds:
            r = ROUNDS_PER_CYCLE
            self._cycle(ADD_ID0 + ADD_SIZE * cycle, list(range(cycle * r, cycle * r + r)))
            cycle += 1
        n = self.idx.assignments.count()
        want = N_BASE + self.added
        self.b.verify([] if n == want else [f"{n} rows, want {want}"], "churned index rows")


WORKLOADS = {"ingest": Ingest, "churn": Churn}


def recall_at_10(ph: Phase) -> float:
    return sum(ph.series["recall_hits"]) / max(1, sum(ph.series["recall_total"]))


def skew(idx) -> float:
    counts = list(cluster_rows(idx).values())
    return max(counts) / mean(counts)
