"""Sharded HNSW approximate nearest neighbor — Oracle AI Vector Search's
OTHER vector index organization. The reference creates
``ORGANIZATION NEIGHBOR PARTITIONS`` (IVF — mirrored by operators/ivf.py,
01_pdf_to_vector.sql:93-97); the alternative organization the same
``CREATE VECTOR INDEX`` statement accepts is
``ORGANIZATION INMEMORY NEIGHBOR GRAPH`` — an HNSW graph (Malkov &
Yashunin 2016, arXiv:1603.09320). This module is that organization,
Spark-first:

Build: corpus rows are sharded by a layout-independent hash of the id
(``pmod(xxhash64(id), n_shards)``) and each shard builds its own HNSW
graph in one ``applyInPandas`` task. Shard membership, insertion order
(sorted by id) and the level draw (a blake2b hash of ``(seed, id)``, not
an RNG stream) are all pure functions of (data, seed), so the built index
is IDENTICAL under any repartition of the input — the same
reproducibility discipline the IVF training sample follows (ivf.py:210)
after the r6 flaky-recall incident. Graphs persist as one packed-numpy
blob row per shard in ordinary parquet.

Search moves the queries to the graph, never the graph to the queries:
the small bounded query frame ships inside every shard task's closure,
each deserialized graph answers all queries with a beam (``ef``) search,
and a global window keeps the top-k of the per-shard top-ks. Per-shard
work is ``ef·log(shard_n)`` distance batches; the cross-shard merge moves
only ``Q·k·n_shards`` skinny (qid, vec_id, dist) rows. At 100 TB the
corpus-scaled side (the graphs) never crosses the wire, shard count
scales with the corpus (keep each shard ≲1M vectors), and shard builds
are embarrassingly parallel one-task jobs.

Degenerate-exact contract: ``ef >= shard size`` falls back to an
exhaustive in-shard scan, so the hash-oracled golden
(``hnsw_exhaustive``) checks the whole build → persist → shard-search →
merge path against the same DuckDB brute-force top-k oracle the IVF
goldens use; recall at practical ``ef`` is gated in tests and measured
in bench.

Hot-loop layout: level-0 adjacency is a fixed ``(n, 2m)`` int32 matrix +
degree vector, so the beam search's neighbor gather / visited filter /
distance batch are all numpy slices — no per-pop Python list traversal
(profiled 2× faster than list-of-lists at build time). Upper levels hold
~1/m of the nodes and stay plain dicts.
"""

from __future__ import annotations

import heapq
import io
import math
from hashlib import blake2b
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oracle_vectorsearch_example_spark.sources.txn import Warehouse


def _level_of(seed: int, node_id: int, m_l: float) -> int:
    """HNSW level draw as a pure function of (seed, id): blake2b bits →
    uniform in (0,1] → geometric via floor(-ln(u)·mL). An RNG stream here
    would make the graph depend on insertion *arrival* order."""
    h = blake2b(f"hnsw:{seed}:{node_id}".encode(), digest_size=8).digest()
    u = (int.from_bytes(h, "big") + 1) / (2**64 + 1)  # (0, 1], log finite
    return int(-math.log(u) * m_l)


class HnswGraph:
    """One shard's in-memory HNSW graph over L2-normalized float64
    vectors (cosine distance = 1 − dot). Deterministic: build order is
    the caller's (sorted by id), levels are hash-drawn, every candidate
    ordering tie-breaks on node index."""

    def __init__(self, ids, vecs, levels, adj0, deg0, up, m: int,
                 seed: int = 42):
        import numpy as np

        self.ids = ids  # (n,) int64 — sorted ascending by build contract
        self.vecs = vecs  # (n, d) float64, unit rows
        self.levels = levels  # (n,) int32
        self.adj0 = adj0  # (n, 2m) int32, -1 padded
        self.deg0 = deg0  # (n,) int32
        self.up = up  # up[l-1]: dict[node, list[int]] for level l >= 1
        self.m = m
        self.seed = seed  # level-draw seed; kept so extend() stays coherent
        if len(ids):
            top = int(levels.max())
            self.entry = int(np.nonzero(levels == top)[0][0])  # min id
        else:
            self.entry = -1
        # generation-counter visited marks: one persistent array instead
        # of a fresh zeros(n) per search (that memset is O(n) per insert
        # → O(n²) per shard build)
        self._seen = np.zeros(len(ids), dtype=np.int64)
        self._gen = 0

    # -- construction ------------------------------------------------

    @classmethod
    def build(cls, ids, vecs, m: int = 16, ef_construction: int = 100,
              seed: int = 42) -> "HnswGraph":
        import numpy as np

        n = len(ids)
        m_l = 1.0 / math.log(max(2, m))
        levels = np.array(
            [_level_of(seed, int(i), m_l) for i in ids], dtype=np.int32
        )
        adj0 = np.full((n, 2 * m), -1, dtype=np.int32)
        deg0 = np.zeros(n, dtype=np.int32)
        g = cls(ids, vecs, levels, adj0, deg0, [], m, seed)
        g.entry = -1
        for i in range(n):
            g._insert(i, ef_construction)
        return g

    def _insert(self, i: int, ef_construction: int) -> None:
        """Wire node index ``i`` (vector/level already in the arrays)
        into the graph — the paper's INSERT, shared by build and
        extend."""
        li = int(self.levels[i])
        max_level = int(self.levels[self.entry]) if self.entry >= 0 else -1
        while len(self.up) < li:
            self.up.append({})
        for lev in range(1, li + 1):
            self.up[lev - 1][i] = []
        if self.entry < 0:
            self.entry = i
            return
        q = self.vecs[i]
        ep = self.entry
        for lev in range(max_level, li, -1):
            ep = self._greedy(q, ep, lev)
        eps = [ep]
        adj0, deg0, m = self.adj0, self.deg0, self.m
        for lev in range(min(li, max_level), -1, -1):
            cand = self._search_layer(q, eps, ef_construction, lev)
            sel = self._select(cand, m)
            if lev == 0:
                for s in sel:
                    adj0[i, deg0[i]] = s
                    deg0[i] += 1
                    if deg0[s] < 2 * m:
                        adj0[s, deg0[s]] = i
                        deg0[s] += 1
                    else:
                        self._shrink0(s, i)
            else:
                self.up[lev - 1][i].extend(sel)
                for s in sel:
                    other = self.up[lev - 1][s]
                    other.append(i)
                    if len(other) > m:
                        self._shrink_up(s, lev)
            eps = [c for _, c in cand]
        if li > max_level:
            self.entry = i

    def extend(self, new_ids, new_vecs,
               ef_construction: int = 100) -> "HnswGraph":
        """Incremental insert (HNSW is natively incremental — no retrain,
        unlike IVF's centroid fit): append the batch (sorted by id for
        layout-independence WITHIN the batch) and wire each node in. The
        result depends on batch arrival order, like any incremental
        index."""
        import numpy as np

        order = np.argsort(new_ids, kind="stable")
        new_ids = np.asarray(new_ids, dtype=np.int64)[order]
        nv = np.asarray(new_vecs, dtype=np.float64)[order]
        norms = np.linalg.norm(nv, axis=1)
        norms[norms == 0] = 1.0
        nv = nv / norms[:, None]
        n0, add = len(self.ids), len(new_ids)
        m_l = 1.0 / math.log(max(2, self.m))
        self.ids = np.concatenate([self.ids, new_ids])
        self.vecs = np.concatenate([self.vecs, nv])
        self.levels = np.concatenate([
            self.levels,
            np.array([_level_of(self.seed, int(i), m_l) for i in new_ids],
                     dtype=np.int32),
        ])
        self.adj0 = np.vstack([
            self.adj0,
            np.full((add, 2 * self.m), -1, dtype=np.int32),
        ])
        self.deg0 = np.concatenate([
            self.deg0, np.zeros(add, dtype=np.int32)
        ])
        self._seen = np.zeros(len(self.ids), dtype=np.int64)
        self._gen = 0
        for i in range(n0, n0 + add):
            self._insert(i, ef_construction)
        return self

    def _greedy(self, q, ep: int, lev: int) -> int:
        """ef=1 descent: hop to the strictly-closer neighbor until none."""
        import numpy as np

        adj = self.up[lev - 1]
        vecs = self.vecs
        cur = ep
        curd = float(1.0 - vecs[cur] @ q)
        while True:
            nbrs = adj[cur]
            if not nbrs:
                return cur
            nd = 1.0 - vecs[nbrs] @ q
            j = int(np.lexsort((nbrs, nd))[0])
            if nd[j] < curd:
                cur, curd = nbrs[j], float(nd[j])
            else:
                return cur

    def _search_layer(self, q, eps: list[int], ef: int, lev: int):
        """Beam search: returns [(dist, node)] ascending, ≤ ef entries."""
        import numpy as np

        vecs = self.vecs
        self._gen += 1
        gen, visited = self._gen, self._seen
        eps = sorted(set(eps))
        visited[eps] = gen
        d0 = 1.0 - vecs[eps] @ q
        cand = sorted(zip(d0.tolist(), eps))  # min-heap
        res = [(-d, e) for d, e in cand]  # max-heap on dist
        heapq.heapify(res)
        heapq.heapify(cand)
        if lev == 0:
            adj0, deg0 = self.adj0, self.deg0
        else:
            updict = self.up[lev - 1]
        while cand:
            d, c = heapq.heappop(cand)
            if len(res) >= ef and d > -res[0][0]:
                break
            if lev == 0:
                nbrs = adj0[c, : deg0[c]]
                fresh = nbrs[visited[nbrs] != gen]
            else:
                lst = updict[c]
                if not lst:
                    continue
                nbrs = np.asarray(lst, dtype=np.int64)
                fresh = nbrs[visited[nbrs] != gen]
            if not fresh.size:
                continue
            visited[fresh] = gen
            nd = 1.0 - vecs[fresh] @ q
            worst = -res[0][0]
            for u, du in zip(fresh.tolist(), nd.tolist()):
                if len(res) < ef or du < worst:
                    heapq.heappush(cand, (du, u))
                    heapq.heappush(res, (-du, u))
                    if len(res) > ef:
                        heapq.heappop(res)
                    worst = -res[0][0]
        return sorted((-nd, u) for nd, u in res)

    def _select(self, cand, m: int) -> list[int]:
        """Select-neighbors heuristic (paper alg. 4): keep c only if it is
        closer to q than to every already-selected neighbor (spreads edges
        across directions); backfill pruned closest to keep degree — and
        with it connectivity — up (keepPrunedConnections)."""
        import numpy as np

        if len(cand) <= m:
            return [c for _, c in cand]
        nodes = np.array([c for _, c in cand], dtype=np.int64)
        dq = np.array([d for d, _ in cand])
        vc = self.vecs[nodes]
        # pairwise candidate distances in ONE matmul; selection is then m
        # vector ops (mark everything a new pick dominates), not a tiny
        # fancy-index + .any() per candidate
        g = 1.0 - vc @ vc.T
        dominated = np.zeros(len(nodes), dtype=bool)
        taken = np.zeros(len(nodes), dtype=bool)
        sel: list[int] = []
        for j in range(len(nodes)):
            if dominated[j]:
                continue
            sel.append(int(nodes[j]))
            taken[j] = True
            if len(sel) >= m:
                return sel
            dominated |= g[j] <= dq  # marks j itself too; `taken` guards
        for j in range(len(nodes)):  # keepPrunedConnections backfill
            if not taken[j]:
                sel.append(int(nodes[j]))
                if len(sel) >= m:
                    break
        return sel

    def _shrink0(self, node: int, new: int) -> None:
        """Level-0 degree overflow: re-select 2m of (current ∪ new)."""
        import numpy as np

        lst = self.adj0[node, : self.deg0[node]].tolist() + [new]
        d = 1.0 - self.vecs[np.asarray(lst, dtype=np.int64)] @ self.vecs[node]
        keep = self._select(sorted(zip(d.tolist(), lst)), 2 * self.m)
        self.adj0[node, : len(keep)] = keep
        self.adj0[node, len(keep):] = -1
        self.deg0[node] = len(keep)

    def _shrink_up(self, node: int, lev: int) -> None:
        import numpy as np

        lst = self.up[lev - 1][node]
        d = 1.0 - self.vecs[np.asarray(lst, dtype=np.int64)] @ self.vecs[node]
        self.up[lev - 1][node] = self._select(
            sorted(zip(d.tolist(), lst)), self.m
        )

    # -- search ------------------------------------------------------

    def search(self, q, k: int, ef: int, exclude_id: int | None = None):
        """Top-k (dist, id) for one unit query vector; ties by (dist, id)
        to match the DuckDB oracle's ORDER BY. ``ef >= n`` is an exact
        exhaustive scan (the golden's degenerate contract)."""
        import numpy as np

        n = len(self.ids)
        if n == 0:
            return []
        if ef >= n:
            d = 1.0 - self.vecs @ q
            ids = self.ids
            if exclude_id is not None:
                keep = ids != exclude_id
                d, ids = d[keep], ids[keep]
            order = np.lexsort((ids, d))[:k]
            return [(float(d[i]), int(ids[i])) for i in order]
        ep = self.entry
        for lev in range(len(self.up), 0, -1):
            ep = self._greedy(q, ep, lev)
        hits = self._search_layer(q, [ep], max(ef, k + 1), 0)
        out = []
        for d, c in hits:
            vid = int(self.ids[c])
            if exclude_id is not None and vid == exclude_id:
                continue
            out.append((float(d), vid))
            if len(out) == k:
                break
        return out

    # -- (de)serialization -------------------------------------------

    def to_blob(self) -> bytes:
        """Pack to one npz blob: vectors + levels + level-0 adjacency
        matrix + an (level, src, dst) edge list for the sparse upper
        levels — no pickle, loadable by any numpy."""
        import numpy as np

        lev_l, src_l, dst_l = [], [], []
        for li, layer in enumerate(self.up):
            for s, nbrs in layer.items():
                for u in nbrs:
                    lev_l.append(li + 1)
                    src_l.append(s)
                    dst_l.append(u)
        buf = io.BytesIO()
        np.savez(
            buf,
            ids=self.ids,
            vecs=self.vecs,
            levels=self.levels,
            adj0=self.adj0,
            deg0=self.deg0,
            e_lev=np.array(lev_l, dtype=np.int32),
            e_src=np.array(src_l, dtype=np.int32),
            e_dst=np.array(dst_l, dtype=np.int32),
            m=np.array([self.m], dtype=np.int32),
            seed=np.array([self.seed], dtype=np.int64),
        )
        return buf.getvalue()

    @classmethod
    def from_blob(cls, blob: bytes) -> "HnswGraph":
        import numpy as np

        z = np.load(io.BytesIO(blob))
        ids, vecs, levels = z["ids"], z["vecs"], z["levels"]
        e_lev, e_src, e_dst = z["e_lev"], z["e_src"], z["e_dst"]
        up: list = [
            {int(i): [] for i in np.nonzero(levels >= lev)[0]}
            for lev in range(1, int(levels.max(initial=0)) + 1)
        ]
        # edges were written grouped by (level, src ascending) with each
        # neighbor list in its ORIGINAL order — rebuild by splitting, no
        # re-sort (list order feeds heap tie-breaks; a sorted rebuild
        # could make a loaded graph search differently than the built
        # one under exact-tie distances)
        for lev in range(1, int(e_lev.max(initial=0)) + 1):
            mask = e_lev == lev
            srcs, dsts = e_src[mask], e_dst[mask]
            if not len(srcs):
                continue
            uniq, starts = np.unique(srcs, return_index=True)
            for s, chunk in zip(uniq, np.split(dsts, starts[1:])):
                up[lev - 1][int(s)].extend(int(u) for u in chunk)
        seed = int(z["seed"][0]) if "seed" in z else 42
        return cls(
            ids, vecs, levels, z["adj0"], z["deg0"], up, int(z["m"][0]),
            seed,
        )


class ShardedHnswIndex:
    """Graph-per-shard HNSW over a DataFrame corpus; see module docs."""

    def __init__(self, graphs: DataFrame, id_col: str, vec_col: str,
                 n_shards: int, m: int):
        self.graphs = graphs  # (shard int, n long, blob binary)
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_shards = n_shards
        self.m = m

    @classmethod
    def build(
        cls,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_shards: int = 8,
        m: int = 16,
        ef_construction: int = 100,
        seed: int = 42,
        path: str | None = None,
    ) -> "ShardedHnswIndex":
        import pandas as pd

        mm, efc, sd = m, ef_construction, seed

        def build_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
            import numpy as np

            pdf = pdf.sort_values("__id", kind="mergesort", ignore_index=True)
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            vecs = np.array(list(pdf["__vec"]), dtype=np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            norms[norms == 0] = 1.0
            vecs /= norms[:, None]
            g = HnswGraph.build(ids, vecs, m=mm, ef_construction=efc, seed=sd)
            return pd.DataFrame(
                {
                    "shard": [int(pdf["__shard"].iloc[0])],
                    "n": [len(ids)],
                    "blob": [g.to_blob()],
                }
            )

        graphs = (
            df.select(
                F.col(id_col).cast("long").alias("__id"),
                F.col(vec_col).cast("array<double>").alias("__vec"),
            )
            .filter(F.col("__vec").isNotNull())
            .withColumn(
                "__shard",
                F.pmod(F.xxhash64(F.col("__id")), F.lit(n_shards)).cast("int"),
            )
            .groupBy("__shard")
            .applyInPandas(build_shard, schema="shard int, n long, blob binary")
        )
        if path is not None:
            # the Warehouse log at ``path`` (sources/txn.py): one table of
            # per-shard graphs, the build parameters in the manifest's meta
            wh = Warehouse(df.sparkSession, path)
            meta = {"id_col": id_col, "vec_col": vec_col, "n_shards": n_shards, "m": m}
            wh.commit({"graphs": graphs}, meta=meta)
            graphs = wh.read("graphs")
        else:
            graphs = graphs.cache()
        return cls(graphs, id_col, vec_col, n_shards, m)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "ShardedHnswIndex":
        wh = Warehouse(spark, path)
        meta = wh.meta()
        return cls(
            wh.read("graphs"), meta["id_col"], meta["vec_col"],
            int(meta["n_shards"]), int(meta["m"]),
        )

    def search(
        self,
        q: DataFrame,
        k: int = 10,
        ef: int = 64,
        exclude_self: bool = False,
    ) -> DataFrame:
        """(qid, rank, vec_id, dist) — the small-query-frame contract
        (same as ``IvfIndex.search``): the frame is collected once,
        ships in the shard tasks' closures, and only Q·k·n_shards skinny
        candidate rows cross the wire for the global merge."""
        import numpy as np

        qrows = q.collect()
        qids = [int(r[0]) for r in qrows]
        qmat = np.array([r[1] for r in qrows], dtype=np.float64)
        if len(qrows):
            norms = np.linalg.norm(qmat, axis=1)
            norms[norms == 0] = 1.0
            qmat = qmat / norms[:, None]
        qlist = qmat.tolist()
        k_, ef_, excl = k, ef, exclude_self

        def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            import numpy as np
            import pandas as pd

            for pdf in batches:
                for blob in pdf["blob"]:
                    g = HnswGraph.from_blob(bytes(blob))
                    out_q, out_v, out_d = [], [], []
                    for qid, qv in zip(qids, qlist):
                        hits = g.search(
                            np.array(qv, dtype=np.float64), k_, ef_,
                            exclude_id=qid if excl else None,
                        )
                        for d, vid in hits:
                            out_q.append(qid)
                            out_v.append(vid)
                            out_d.append(d)
                    yield pd.DataFrame(
                        {"qid": pd.Series(out_q, dtype="int64"),
                         "vec_id": pd.Series(out_v, dtype="int64"),
                         "dist": pd.Series(out_d, dtype="float64")}
                    )

        cand = self.graphs.mapInPandas(
            run, schema="qid long, vec_id long, dist double"
        )
        w = Window.partitionBy("qid").orderBy("dist", "vec_id")
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "dist")
        )

    def accuracy_report(
        self,
        q: DataFrame,
        k: int = 10,
        efs: tuple = (16, 32, 64, 128, 256),
        exclude_self: bool = False,
    ) -> DataFrame:
        """Recall-vs-ef curve for THIS graph index (the
        DBMS_VECTOR.INDEX_ACCURACY_REPORT analog on the NEIGHBOR GRAPH
        organization, sibling of ``IvfIndex.accuracy_report``). Unlike
        IVF — where one exact pass yields the whole curve from cluster
        ranks — a beam search's recall at ef is only observable by
        running it, so this measures one search per listed ef plus one
        exhaustive pass (ef >= shard size) for ground truth. Returns
        (ef, recall, n_true); run on a sampled query frame and reuse the
        chosen ef for production searches."""
        from oracle_vectorsearch_example_spark.operators.ivf import (
            recall_at_k,
        )

        exact = self.search(q, k=k, ef=10 ** 9, exclude_self=exclude_self)
        exact = exact.persist()
        n_true = exact.count()
        rows = []
        for ef in sorted(set(int(e) for e in efs)):
            got = self.search(q, k=k, ef=ef, exclude_self=exclude_self)
            rows.append((ef, round(recall_at_k(exact, got), 6), n_true))
        exact.unpersist()
        spark = q.sparkSession
        return spark.createDataFrame(rows, "ef int, recall double, n_true long")

    def filtered_search(
        self,
        q: DataFrame,
        attrs: DataFrame,
        predicate,
        k: int = 10,
        ef: int = 64,
        oversample: int = 4,
        exclude_self: bool = False,
    ) -> DataFrame:
        """Attribute-filtered graph search (the X13 surface on the
        NEIGHBOR GRAPH organization): retrieve k*oversample candidates
        per query from the graphs, join the attribute frame, apply the
        predicate, re-rank, keep k.

        A neighbor-graph walk cannot prune by predicate mid-traversal
        the way IVF prunes partitions (ivf.py filtered path, X13) — the
        standard graph-index recipe is oversampled POST-filtering
        (pgvector/FAISS do the same). Selectivity budget: a predicate
        passing fraction s of the corpus needs oversample >= ~1/s to
        fill k; more selective predicates under-fill — raise oversample
        or use the IVF filtered path, which stays exact at any
        selectivity. ``attrs`` is (id, ...attribute columns...);
        ``predicate`` is a Column or SQL string over it. The candidate
        frame is Q*k*oversample*n_shards skinny rows — the join is
        candidate-sized, never corpus-sized."""
        want = k * oversample
        cand = self.search(
            q, k=want, ef=max(ef, want), exclude_self=exclude_self
        )
        keep = attrs.filter(
            F.expr(predicate) if isinstance(predicate, str) else predicate
        ).select(F.col(self.id_col))
        filtered = cand.drop("rank").join(keep, self.id_col, "left_semi")
        w = Window.partitionBy("qid").orderBy("dist", self.id_col)
        return (
            filtered.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", self.id_col, "dist")
        )

    def search_df(
        self,
        q: DataFrame,
        k: int = 10,
        ef: int = 64,
        exclude_self: bool = False,
    ) -> DataFrame:
        """Distributed query-frame search — nothing collected: every
        query must visit every shard (the sharded-graph cost model), so
        the frame explodes ×n_shards and COGROUPs with the graph table
        on shard; each task deserializes its one graph and answers its
        slice of the frame. Use for corpus-sized query frames; `search`
        for small ones (no explode/shuffle of the queries)."""
        import pandas as pd

        k_, ef_, excl = k, ef, exclude_self

        def run(qpdf: "pd.DataFrame", gpdf: "pd.DataFrame") -> "pd.DataFrame":
            import numpy as np

            if gpdf.empty or qpdf.empty:
                return pd.DataFrame(
                    {"qid": pd.Series(dtype="int64"),
                     "vec_id": pd.Series(dtype="int64"),
                     "dist": pd.Series(dtype="float64")}
                )
            g = HnswGraph.from_blob(bytes(gpdf["blob"].iloc[0]))
            qm = np.array(list(qpdf["qvec"]), dtype=np.float64)
            norms = np.linalg.norm(qm, axis=1)
            norms[norms == 0] = 1.0
            qm = qm / norms[:, None]
            out_q, out_v, out_d = [], [], []
            for qid, qv in zip(qpdf["qid"].tolist(), qm):
                for d, vid in g.search(
                    qv, k_, ef_, exclude_id=qid if excl else None
                ):
                    out_q.append(qid)
                    out_v.append(vid)
                    out_d.append(d)
            return pd.DataFrame(
                {"qid": pd.Series(out_q, dtype="int64"),
                 "vec_id": pd.Series(out_v, dtype="int64"),
                 "dist": pd.Series(out_d, dtype="float64")}
            )

        qx = (
            q.select(
                F.col(q.columns[0]).cast("long").alias("qid"),
                F.col(q.columns[1]).cast("array<double>").alias("qvec"),
            )
            .withColumn(
                "shard",
                F.explode(
                    F.array(*[F.lit(s).cast("int")
                              for s in range(self.n_shards)])
                ),
            )
        )
        cand = (
            qx.groupBy("shard")
            .cogroup(self.graphs.groupBy("shard"))
            .applyInPandas(run, schema="qid long, vec_id long, dist double")
        )
        w = Window.partitionBy("qid").orderBy("dist", "vec_id")
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "dist")
        )

    def add(self, df: DataFrame,
            ef_construction: int = 100) -> "ShardedHnswIndex":
        """Incremental maintenance (X14 posture, and where HNSW beats
        IVF structurally: inserts wire into the graphs directly — no
        centroid retrain, no assignment drift). New rows hash to their
        shard and COGROUP with the graph table; shards with no new rows
        pass their blob through untouched. Returns a new index backed by
        the updated (cached, unpersisted-to-disk) graph table — persist
        with ``save``-style ``build(path=)`` semantics via
        ``graphs.write`` if durability is needed."""
        import pandas as pd

        efc = ef_construction

        def run(npdf: "pd.DataFrame", gpdf: "pd.DataFrame") -> "pd.DataFrame":
            import numpy as np

            if npdf.empty:
                return gpdf[["shard", "n", "blob"]]
            ids = npdf["__id"].to_numpy(dtype=np.int64)
            vecs = np.array(list(npdf["__vec"]), dtype=np.float64)
            if gpdf.empty:
                norms = np.linalg.norm(vecs, axis=1)
                norms[norms == 0] = 1.0
                order = np.argsort(ids, kind="stable")
                g = HnswGraph.build(
                    ids[order], (vecs / norms[:, None])[order],
                    m=mm, ef_construction=efc, seed=sd,
                )
                shard = int(npdf["__shard"].iloc[0])
            else:
                g = HnswGraph.from_blob(bytes(gpdf["blob"].iloc[0]))
                g.extend(ids, vecs, ef_construction=efc)
                shard = int(gpdf["shard"].iloc[0])
            return pd.DataFrame(
                {"shard": [shard], "n": [len(g.ids)], "blob": [g.to_blob()]}
            )

        mm, sd = self.m, 42
        new = (
            df.select(
                F.col(self.id_col).cast("long").alias("__id"),
                F.col(self.vec_col).cast("array<double>").alias("__vec"),
            )
            .filter(F.col("__vec").isNotNull())
            .withColumn(
                "__shard",
                F.pmod(
                    F.xxhash64(F.col("__id")), F.lit(self.n_shards)
                ).cast("int"),
            )
        )
        graphs = (
            new.groupBy("__shard")
            .cogroup(self.graphs.groupBy("shard"))
            .applyInPandas(run, schema="shard int, n long, blob binary")
            .cache()
        )
        return ShardedHnswIndex(
            graphs, self.id_col, self.vec_col, self.n_shards, self.m
        )
