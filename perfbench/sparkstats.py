"""The benchmark's Spark session and the read-out of Spark's own status
data (jobs, stages, tasks, shuffle bytes, task wait, Python-worker SQL
metrics), attributed to the benchmark's spans after a run."""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass
from typing import Optional

from harness import Span, Tracer


def session_conf(work_dir: str, nproc: int) -> dict[str, str]:
    """The fixed, recorded conf every run uses.  All Spark scratch space
    lives under ``work_dir``; no JVM tuning flag is set."""
    return {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "orama-spark-perfbench",
        "spark.driver.memory": "4g",
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.default.parallelism": str(nproc),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run in the status store for the trace
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # JVM temp files go to the run's work dir, not the host's /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
    }


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM it runs in, and wait for the JVM
    to exit (PySpark would otherwise leave it to interpreter exit)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def job_group_hooks(spark):
    sc = spark.sparkContext

    def enter(group: str, name: str) -> None:
        sc.setJobGroup(group, name)

    def leave(parent_group: Optional[str]) -> None:
        if parent_group is None:
            sc.setJobGroup(None, None)  # type: ignore[arg-type]
        else:
            sc.setJobGroup(parent_group, "")

    return enter, leave


# ------------------------------------------------------------ read-out
@dataclass
class SpanStats:
    jobs: int = 0
    tasks: int = 0
    stages: int = 0
    shuffle_write_bytes: int = 0
    task_wait_ms: float = 0.0
    python_ms: float = 0.0
    python_bytes_sent: float = 0.0
    python_bytes_received: float = 0.0

    def add(self, other: "SpanStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


_UNIT = {"B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
         "TiB": 1024.0 ** 4, "ms": 1.0, "s": 1000.0, "m": 60_000.0,
         "h": 3_600_000.0}
_TOTAL_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric_total(text: str) -> float:
    """Total of a formatted SQL metric as Spark's status store keeps it:
    '12.3 KiB' / '857 ms' / '1,234', or the multi-line
    'total (min, med, max ...)\\n10.6 s (2.6 s, ...)'.  Sizes come back
    in bytes, timings in ms."""
    line = text.strip().splitlines()[-1]
    m = _TOTAL_RE.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


_PY_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


def _opt_ms(opt) -> Optional[int]:
    return opt.get().getTime() if opt.isDefined() else None


def harvest(spark, tracer: Tracer) -> dict[int, SpanStats]:
    """span_id -> Spark work the span ran itself (not its children).

    A job belongs to the span whose job group it carries.  Jobs started
    from threads the library spawns carry no group; they belong to the
    innermost span open when they were submitted (one client, so spans
    never overlap except by nesting)."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    by_group = {s.group: s for s in tracer.spans}
    out: dict[int, SpanStats] = {s.span_id: SpanStats() for s in tracer.spans}
    job_span: dict[int, int] = {}

    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup().get() if job.jobGroup().isDefined() else None
        span: Optional[Span] = by_group.get(group)
        if span is None:
            submitted = _opt_ms(job.submissionTime())
            if submitted is None:
                continue
            span = tracer.innermost_at(submitted / 1000.0)
        if span is None:
            continue
        job_span[job.jobId()] = span.span_id
        st = out[span.span_id]
        st.jobs += 1
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            try:
                stage = store.lastStageAttempt(stage_ids.apply(k))
            except Py4JJavaError:  # evicted or never created: nothing to count
                continue
            submitted = _opt_ms(stage.submissionTime())
            if submitted is None:  # skipped stage (shuffle reuse)
                continue
            st.stages += 1
            st.tasks += stage.numCompleteTasks()
            st.shuffle_write_bytes += stage.shuffleWriteBytes()
            launched = _opt_ms(stage.firstTaskLaunchedTime())
            if launched is not None:
                st.task_wait_ms += max(launched - submitted, 0)

    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        job_ids = ex.jobs().keySet().iterator()
        sid = None
        while job_ids.hasNext() and sid is None:
            sid = job_span.get(job_ids.next())
        if sid is None:
            continue
        values = sql.executionMetrics(ex.executionId())
        metrics = ex.metrics()
        seen = set()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            field = _PY_METRICS.get(m.name())
            if field is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                setattr(out[sid], field,
                        getattr(out[sid], field) + parse_metric_total(v.get()))
    return out


def subtree_stats(spans: list[Span], stats: dict[int, SpanStats],
                  root: int) -> SpanStats:
    """Sum of a span's own stats and those of all its descendants."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.span_id)
    total, todo = SpanStats(), [root]
    while todo:
        sid = todo.pop()
        total.add(stats.get(sid, SpanStats()))
        todo.extend(kids.get(sid, []))
    return total


def plan_metric_sum(df, node_suffix: str, metric: str) -> int:
    """Sum of one SQL metric over the nodes of ``df``'s executed (final
    adaptive) plan whose name ends with ``node_suffix``; call after the
    DataFrame has been collected."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getName()
        if cls.endswith("AdaptiveSparkPlanExec"):
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if node.nodeName().endswith(node_suffix):
            found = node.metrics().get(metric)
            if found.isDefined():
                total += found.get().value()
        children = node.children()
        for i in range(children.size()):
            todo.append(children.apply(i))
    return total


def timed_session(conf: dict[str, str]):
    """Start the session and return it with its start-up seconds."""
    t0 = time.perf_counter()
    spark = start_session(conf)
    return spark, time.perf_counter() - t0
