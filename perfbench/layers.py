"""Per-layer metrics of a traced run, from its spans and the counts the
workloads took from the engine's public state."""

from __future__ import annotations

from tracing import mean, median
from workloads import live_files, recall_at_10, skew

# layer -> span names whose self time belongs to it
LAYERS = {
    "extract": ("extract",),
    "chunker": ("chunker",),
    "embedding": ("embedding",),
    "pipeline": ("pipeline.ingest", "pipeline.sink", "pipeline.build"),
    "ivf.build": ("ivf.build",),
    "ivf.plan": ("ivf.plan",),
    "ivf.exec": ("ivf.exec",),
    "ivf.add": ("ivf.add",),
    "ivf.compact": ("ivf.compact",),
    "search.topk": ("search.topk",),
}


def overhead(phases) -> dict[str, float]:
    """Per op kind: traced median latency over the mean of the two
    untraced phases' medians, minus 1."""
    before, traced, after = phases
    return {
        k: median(traced.lat[k]) / ((median(before.lat[k]) + median(after.lat[k])) / 2) - 1.0
        for k in traced.lat
        if before.lat[k] and after.lat[k]
    }


def layer_metrics(b, wl, session_s: float, phases):
    """(metrics for the result line, the full table for the trace file).

    Times are means per call of the named span. ``<layer>.share`` is the
    layer's self time inside timed ops over the timed ops' total time."""
    tr, s = b.tracer, b.phase.series
    selfs = tr.self_times()

    def per_call(name: str) -> float:
        return mean([x["end"] - x["start"] for x in tr.by_name(name)])

    op_total = sum(x["end"] - x["start"] for x in tr.by_name("op"))
    share = {}
    for layer, names in LAYERS.items():
        own = sum(selfs[x["id"]] for x in tr.spans if x["name"] in names and x["op"] is not None)
        share[layer] = own / op_total if op_total else 0.0

    n_docs = wl.n_docs
    extracted = [x["rows"] for x in tr.by_name("extract")]
    chunks = median(s["n_chunks"]) if s["n_chunks"] else 0.0
    spark_ops = [c for cs in b.phase.spark.values() for c in cs]
    over = overhead(phases)

    m = {
        "session.start_s": (session_s, "s"),
        "extract.docs": (n_docs, "count"),
        "extract.bytes_in": (wl.bytes_in if n_docs else 0, "B"),
        "extract.null_frac": (1.0 - mean(extracted) / n_docs if n_docs else 0.0, "frac"),
        "extract.share": (share["extract"], "frac"),
        "chunker.chunks": (chunks, "count"),
        "chunker.chunks_per_doc": (chunks / n_docs if n_docs else 0.0, "count"),
        "chunker.share": (share["chunker"], "frac"),
        "embedding.share": (share["embedding"], "frac"),
        "pipeline.sink_bytes_per_chunk": (mean(s["sink_bytes_per_chunk"]), "B"),
        "pipeline.share": (share["pipeline"], "frac"),
        "ivf.build_s": (per_call("ivf.build"), "s"),
        "ivf.n_clusters": (len(wl.built.centroids), "count"),
        "ivf.files_written": (live_files(wl.built)[0], "count"),
        "ivf.cluster_rows_max_over_mean": (skew(wl.built), "ratio"),
        "ivf.plan_s": (per_call("ivf.plan"), "s"),
        "ivf.exec_s": (per_call("ivf.exec"), "s"),
        "ivf.probed_clusters_per_batch": (mean(s["probed"]), "count"),
        "ivf.probed_frac": (mean(s["probed"]) / len(wl.built.centroids), "frac"),
        "ivf.rows_scanned_per_query": (mean(s["rows_per_query"]), "count"),
        "ivf.files_opened_per_batch": (mean(s["files_per_batch"]), "count"),
        "ivf.add_share": (share["ivf.add"], "frac"),
        "ivf.add_files_written": (mean(s["add_files_written"]), "count"),
        "ivf.data_dirs": (mean(s["data_dirs"]), "count"),
        "ivf.files_per_cluster": (mean(s["files_per_cluster"]), "count"),
        "ivf.compact_share": (share["ivf.compact"], "frac"),
        "ivf.recall_at_10": (recall_at_10(b.phase), "frac"),
        "search.topk_s": (per_call("search.topk"), "s"),
        "search.rows_scanned_per_query": (mean(s["topk_rows_per_query"]), "count"),
        "search.bytes_scanned_per_batch": (mean(s["topk_bytes"]), "B"),
        "search.flops_per_batch": (mean(s["topk_flops"]), "count"),
        "spark.jobs_per_op": (mean([c["jobs"] for c in spark_ops]), "count"),
        "spark.tasks_per_op": (mean([c["tasks"] for c in spark_ops]), "count"),
        "spark.failed_tasks": (sum(c["failed_tasks"] for c in spark_ops), "count"),
        "trace.overhead_frac": (mean(list(over.values())), "frac"),
    }

    embed_self = sum(selfs[x["id"]] for x in tr.by_name("embedding"))
    full = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    full.update(
        {
            "extract.s": {"value": per_call("extract"), "unit": "s"},
            "chunker.s": {"value": per_call("chunker"), "unit": "s"},
            "embedding.s": {"value": per_call("embedding"), "unit": "s"},
            "embedding.chunks_per_s": {
                "value": sum(s["n_chunks"]) / embed_self if embed_self else 0.0,
                "unit": "1/s",
            },
            "pipeline.ingest_s": {"value": per_call("pipeline.ingest"), "unit": "s"},
            "pipeline.build_s": {"value": per_call("pipeline.build"), "unit": "s"},
            "ivf.add_s": {"value": per_call("ivf.add"), "unit": "s"},
            "ivf.compact_s": {"value": per_call("ivf.compact"), "unit": "s"},
            "spark.per_op_kind": {
                kind: {
                    "ops": len(cs),
                    "jobs_per_op": mean([c["jobs"] for c in cs]),
                    "tasks_per_op": mean([c["tasks"] for c in cs]),
                    "failed_tasks": sum(c["failed_tasks"] for c in cs),
                }
                for kind, cs in b.phase.spark.items()
            },
            "self_s": {
                name: sum(selfs[x["id"]] for x in tr.by_name(name))
                for name in sorted({x["name"] for x in tr.spans})
            },
            "overhead_by_op_kind": over,
        }
    )
    return m, full
