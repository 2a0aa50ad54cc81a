#!/usr/bin/env python3
"""orama_spark benchmark: one workload per process, fixed work per run.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json.
With ``--trace 1`` the same work runs with a span around every call
into an orama_spark module, and the metrics are the per-layer ones.
The full record of a run (environment, conf, per-op times, spans) is
written to ``.perfbench_out/`` in the repository root.

The work per run is a fixed count of operations (``workloads.py``);
``--seconds`` is recorded but does not size the run, so every run of a
workload does the same work.  All scratch files live under
``.perfbench_work/`` in the repository root and are removed at exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared_metrics(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """name -> unit of the end-to-end and per-layer metrics that
    BENCHMARK.json declares; every run prints exactly these."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def git_commit(root: str) -> str | None:
    """HEAD of the checkout, read from .git without running git."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def kernel_layer(seed: int) -> dict[str, float]:
    """Tokenizer throughput off Spark, on a fixed-size page sample and
    on the workload's query strings (fresh tokenizer per repetition, so
    its memo starts cold each time)."""
    import numpy as np

    import inputs
    from harness import median
    from workloads import SERVE_PER_SHAPE
    from orama_spark.kernel.tokenizer import Tokenizer, TokenizerConfig
    from orama_spark.sources.webpages import CorpusGenerator

    gen = CorpusGenerator(seed=seed)
    texts = list(gen.batch(1 + np.arange(1000))["text"])
    queries = [q.term for q in inputs.query_sequence(gen, seed, SERVE_PER_SHAPE)]
    doc_s, query_s = [], []
    for _ in range(5):
        tok = Tokenizer(TokenizerConfig.full())
        t = time.perf_counter()
        tok.tokenize_many(texts, "text")
        doc_s.append(time.perf_counter() - t)
        tok = Tokenizer(TokenizerConfig.full())
        t = time.perf_counter()
        for q in queries:
            tok.tokenize(q)
        query_s.append((time.perf_counter() - t) / len(queries))
    return {"kernel.tokenize_docs_per_s": len(texts) / median(doc_s),
            "kernel.query_tokenize_us": median(query_s) * 1e6}


def traced_layer(run, stats) -> dict[str, float]:
    """Per-layer figures from the spans and Spark's status data."""
    from harness import median, self_times
    from sparkstats import SpanStats, subtree_stats

    spans = run.tracer.spans
    in_window = [s for s in spans
                 if run.timed_start <= s.start and s.end <= run.timed_end]

    def named(prefix: str) -> list:
        """Spans whose name starts with ``prefix``: those in the timed
        window when there are any, else the set-up ones."""
        hit = [s for s in in_window if s.name.startswith(prefix)]
        return hit or [s for s in spans if s.name.startswith(prefix)]

    def per_span(prefix: str) -> list[SpanStats]:
        return [subtree_stats(spans, stats, s.span_id) for s in named(prefix)]

    def mean(values: list[float]) -> float:
        return sum(values) / len(values) if values else 0.0

    out: dict[str, float] = {}
    for layer, prefix in (("build", "build.index"), ("dedup", "datapipe.dedup")):
        st = per_span(prefix)
        out[f"{layer}.jobs"] = mean([s.jobs for s in st])
        out[f"{layer}.tasks"] = mean([s.tasks for s in st])
        out[f"{layer}.shuffle_write_bytes"] = mean([s.shuffle_write_bytes for s in st])
    st = per_span("maintenance.upsert")
    out["maintenance.jobs_per_write"] = mean([s.jobs for s in st])
    out["maintenance.shuffle_write_bytes"] = mean([s.shuffle_write_bytes for s in st])

    own = self_times(spans)
    for name, key in (("engine.search", "engine.plan_ms"),
                      ("engine.collect", "engine.collect_ms")):
        durations = [s.duration for s in in_window if s.name == name]
        out[key] = median(durations) * 1000.0 if durations else 0.0
    engine_ops = [subtree_stats(spans, stats, s.span_id) for s in in_window
                  if s.name in ("op.prefix", "op.and", "op.filter", "op.fuzzy")]
    out["engine.jobs_per_query"] = mean([s.jobs for s in engine_ops])
    wand_ops = [subtree_stats(spans, stats, s.span_id) for s in in_window
                if s.name == "op.wand"]
    out["wand.jobs_per_query"] = mean([s.jobs for s in wand_ops])
    out["wand.cold_share"] = mean([1.0 if s.jobs >= 2 else 0.0 for s in wand_ops])

    ops = [s for s in in_window if s.name.startswith("op.")]
    total = SpanStats()
    for s in ops:
        total.add(subtree_stats(spans, stats, s.span_id))
    n = max(len(ops), 1)
    out["spark.jobs_per_op"] = total.jobs / n
    out["spark.tasks_per_op"] = total.tasks / n
    out["spark.task_wait_ms"] = total.task_wait_ms / max(total.stages, 1)
    out["arrow.python_ms_per_op"] = total.python_ms / n
    out["arrow.bytes_sent_per_op"] = total.python_bytes_sent / n
    out["arrow.bytes_received_per_op"] = total.python_bytes_received / n
    out["trace.overhead_ms_per_op"] = run.trace_overhead_s * 1000.0 / n
    run.record["span_self_s"] = {}
    for s in spans:
        agg = run.record["span_self_s"].setdefault(s.name, 0.0)
        run.record["span_self_s"][s.name] = agg + own[s.span_id]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "serve"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=0,
                    help="recorded only; the work per run is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "orama_spark")):
        print(f"orama_spark not found next to {HERE}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    end_to_end_units, per_layer_units = declared_metrics(ROOT)

    import harness
    import sparkstats
    from workloads import WORKLOADS, Run

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import orama_spark from this checkout; Python-side
    # temp files stay in the run's work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    me = os.getpid()
    stale = harness.spark_processes(exclude={me})
    still = harness.wait_gone(stale, 20.0)
    record: dict = {
        "workload": args.workload, "seed": args.seed, "seconds_arg": args.seconds,
        "trace": args.trace, "nproc": nproc, "git_commit": git_commit(ROOT),
        "python": sys.version.split()[0],
        "stale_spark_processes": {"found": len(stale), "remaining": len(still)},
    }
    control = [harness.control_ms() for _ in range(3)]
    conf = sparkstats.session_conf(work, nproc)
    record["conf"] = conf
    try:
        with harness.MemorySampler() as mem:
            spark, session_s = sparkstats.timed_session(conf)
            hooks = sparkstats.job_group_hooks(spark) if args.trace else (None, None)
            run = Run(spark=spark, tracer=harness.Tracer(bool(args.trace), *hooks),
                      seed=args.seed, nproc=nproc, work=work)
            try:
                import pyspark

                record["pyspark"] = pyspark.__version__
                record["java"] = spark.sparkContext._jvm.java.lang.System.getProperty(
                    "java.version")
                WORKLOADS[args.workload](run)
                control += [harness.control_ms() for _ in range(3)]
                if args.trace:
                    stats = sparkstats.harvest(spark, run.tracer)
                    run.layer.update(traced_layer(run, stats))
                    run.layer.update(kernel_layer(args.seed))
            finally:
                run.mark("workload done")
                kids = harness.descendants(me)
                sparkstats.stop_session(spark)
                left = harness.wait_gone(kids, 30.0)
                record["killed_at_exit"] = len(left)
                if left:
                    harness.kill_and_wait(left)
                run.mark("spark stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    run.layer.update({
        "spark.session_start_s": session_s,
        "host.control_ms": harness.median(control),
        # JVM heap growth makes this bimodal run to run (about 2.0 vs 2.9
        # GB for the same ingest work), too wide for an end-to-end bound
        "host.peak_pss_mb": mem.peak_bytes / 2 ** 20,
        "harness.warmup_passes": run.warmup_passes,
        # one client in a closed loop: the rate is 1 / mean op latency
        "harness.ops_per_s": len(run.op_seconds) / run.timed_wall_s,
    })
    end_to_end = {
        "setup_s": run.timed_start - PROCESS_START,
        "op_p50_ms": harness.median(run.op_seconds) * 1000.0,
        "index_bytes_per_input_byte": run.index_bytes_per_input_byte,
    }
    if args.trace:
        # a layer the workload does not call reports 0
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_units.items()}
    else:
        metrics = {k: {"value": float(end_to_end[k]), "unit": u}
                   for k, u in end_to_end_units.items()}
    run.record["phases"] = [(p, t - PROCESS_START) for p, t in run.record.get("phases", [])]
    record.update({
        "control_ms": control, "op_seconds": run.op_seconds,
        "failures": run.failures, "metrics": metrics,
        "end_to_end": end_to_end, "layer": run.layer, **run.record,
    })
    if args.trace:
        record["spans"] = [vars(s) for s in run.tracer.spans]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for msg in run.failures:
        print(f"FAILED: {msg}", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
