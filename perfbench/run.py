"""Benchmark of the engine's EP1 ingest + index build and of EP3 batch search
on an index that takes writes, on one local Spark session with one core per
CPU.

    python3 perfbench/run.py --workload {ingest,churn} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` the run measures an
untraced, a traced and another untraced phase, and reports the per-layer
metrics of the traced one plus the tracing overhead; spans and the full
per-layer table are written to ``perfbench/.out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "oracle_vectorsearch_example_spark"


def configure_env(work: str) -> None:
    """Everything Spark writes stays under ``work``; one core per CPU."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf " + shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--driver-java-options " + shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "pyspark-shell",
        ]
    )


def stop_session(spark, rss) -> None:
    """Stop Spark, then the JVM, and wait until every process this run
    started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 20
    while True:
        left = rss.descendants()
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.2)


def e2e_metrics(ph) -> dict:
    """The end-to-end metrics one phase measured (all but setup_s and
    peak_rss_mb)."""
    from tracing import median
    from workloads import recall_at_10

    s = ph.series
    return {
        "exact_p50_s": (median(ph.lat["exact"]), "s"),
        "ivf_p50_s": (median(ph.lat["ivf"]), "s"),
        "filtered_p50_s": (median(ph.lat["filtered"]), "s"),
        "recall_at_10": (recall_at_10(ph), "frac"),
        "write_vecs_per_s": (median(s["write_rate"]), "1/s"),
        "index_bytes_per_vec": (median(s["bytes_per_vec"]), "B"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "churn"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: run from the repository root ({PKG}/ not found in {ROOT})", file=sys.stderr)
        return 2
    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    sys.path.insert(0, ROOT)

    from layers import layer_metrics
    from oracle_vectorsearch_example_spark import get_spark
    from tracing import RssSampler, tail
    from workloads import KINDS, MIN_RECALL, WORKLOADS, Bench, Phase, recall_at_10

    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0

        b = Bench(spark, work, args.seed)
        b.set_tracing(bool(args.trace))
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](b)
        build_s = time.perf_counter() - t
        # untraced; or untraced, traced, untraced, so that drift over the
        # run does not pass for tracing overhead
        phases, warm_s = [], []
        for traced in [False, True, False] if args.trace else [False]:
            b.set_tracing(False)
            b.phase = Phase()
            t = time.perf_counter()
            wl.warmup()
            warm_s.append(time.perf_counter() - t)
            b.set_tracing(traced)
            b.phase = Phase()
            wl.run_phase(args.seconds)
            r = recall_at_10(b.phase)
            b.verify([] if r >= MIN_RECALL else [f"ivf recall@10 {r:.3f} < {MIN_RECALL}"], "recall")
            phases.append(b.phase)
        b.set_tracing(False)
        setup_s = session_s + build_s + warm_s[0]

        metrics = e2e_metrics(phases[0])
        tail_s, pct, n = tail([x for k in KINDS for x in phases[0].lat[k]])
        detail = {
            "session_start_s": session_s,
            "inputs_and_build_s": build_s,
            "warmup_s": warm_s,
            "search_tail_s": {"value": tail_s, "percentile": pct, "samples": n},
            "latencies_s": {k: [round(x, 4) for x in v] for k, v in phases[0].lat.items()},
        }
        if args.trace:
            b.phase = phases[1]
            metrics, full = layer_metrics(b, wl, session_s, phases)
            out = os.path.join(BENCH, ".out")
            os.makedirs(out, exist_ok=True)
            trace_path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "layers": full, "spans": b.tracer.spans}, f)
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics["setup_s"] = (setup_s, "s")
            metrics["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
    finally:
        if spark is not None:
            stop_session(spark, rss)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
