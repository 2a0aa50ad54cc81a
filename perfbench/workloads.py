"""The benchmark's workloads.  Each runs a fixed count of operations
against orama_spark's public API after a fixed warm-up, then checks
every timed result outside the timed region.

``ingest``: each op takes a fresh batch of web pages with 1 % planted
near-duplicates, finds near-duplicate pairs (``ngram_jaccard_pairs``),
builds an index of the batch (``IndexBuilder.build``) and applies a
recrawl refresh to it (``upsert_documents`` then ``SearchIndex.load``).

``serve``: one closed-loop client replays a fixed, seeded query
sequence (prefix, AND, enum filter, fuzzy, exact-term WAND) against an
index prebuilt in set-up.
"""

from __future__ import annotations

import os
import re
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Optional

import numpy as np

from harness import Tracer, median, rank_mismatch, window_drift
import inputs

K = 10

INGEST_PAGES = 2000
# the untimed warm-up op runs the same calls on a small batch: it pays
# the first-call costs (JIT, Python workers) at a fraction of the time
INGEST_WARMUP_PAGES = 500
INGEST_TIMED_OPS = 1
DEDUP_THRESHOLD = 0.5
DEDUP_SAMPLE = 20

SERVE_PAGES = 4000
SERVE_PER_SHAPE = 3
SERVE_TIMED_PASSES = 1
# untimed replays of the whole sequence before the timed one; the pass
# medians and the timed window's drift are recorded to show how close
# to steady state the JIT and the driver caches got
SERVE_WARMUP_PASSES = 2


def index_config():
    from orama_spark.config import IndexConfig
    from orama_spark.kernel.tokenizer import TokenizerConfig

    return IndexConfig(schema={"text": "string", "lang": "enum"},
                       tokenizer=TokenizerConfig.full(), docid_col="doc_id")


def oracle_for(pdf):
    from orama_spark.kernel.tokenizer import TokenizerConfig
    from orama_spark.oracle.engine import OramaOracle

    db = OramaOracle({"text": "string", "lang": "enum"},
                     tokenizer=TokenizerConfig.full())
    for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
        db.insert({"text": text, "lang": lang}, docid=int(doc_id))
    return db


def oracle_exact_topk(db, term: str, k: int = K) -> list[tuple[int, float]]:
    """The oracle's exact-term BM25 ranking without the case-sensitive
    post-filter: what ``BlockIndex.wand_topk`` computes."""
    scored = db._index_search(term, ["text"], True, 0, {}, db.bm25_params,
                              None, 1.0)
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def match_counts(results) -> list[int]:
    """Full match-set sizes of several ``SearchResult``s (what
    ``SearchResult.count()`` returns for each) in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [r.scored.select(F.lit(i).alias("qid")) for i, r in enumerate(results)]
    rows = reduce(lambda a, b: a.unionByName(b), parts).groupBy("qid").count().collect()
    got = {r["qid"]: r["count"] for r in rows}
    return [got.get(i, 0) for i in range(len(results))]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def file_snapshot(path: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.join(root, f)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or changed between two snapshots."""
    return sum(v[1] for p, v in after.items() if before.get(p) != v)


_WS = re.compile(r"[\t\n\x0b\f\r ]+")


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t: str) -> set:
        toks = _WS.sub(" ", t.strip(" ")).split(" ")
        return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


@dataclass
class Run:
    """State one workload run shares with the driver code in run.py."""

    spark: object
    tracer: Tracer
    seed: int
    nproc: int
    work: str
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    timed_start: Optional[float] = None
    timed_end: Optional[float] = None
    trace_overhead_s: float = 0.0
    op_seconds: list[float] = field(default_factory=list)
    timed_wall_s: float = 0.0
    index_bytes_per_input_byte: float = 0.0
    warmup_passes: int = 0
    # per_layer figures the workload measured itself
    layer: dict[str, float] = field(default_factory=dict)
    # extra detail for the run's JSON record
    record: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def mark(self, phase: str) -> None:
        """Record the wall time a phase of the run ended."""
        self.record.setdefault("phases", []).append((phase, time.time()))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# ---------------------------------------------------------------- ingest
@dataclass
class Batch:
    pages: object  # pandas frame: pages + planted copies, id order
    planted: list[tuple[int, int]]
    refresh: object  # pandas frame: refreshed pages (existing ids)
    docs_dir: str
    refresh_dir: str


def _ingest_inputs(run: Run, gen) -> list[Batch]:
    batches = []
    sizes = [INGEST_WARMUP_PAGES] + [INGEST_PAGES] * INGEST_TIMED_OPS
    for b, n in enumerate(sizes):
        rng = inputs.rng_for(run.seed, 100 + b)
        base = (b + 1) * inputs.ID_STRIDE
        ids = base + 1 + np.arange(n)
        # 1 % planted near-duplicates, 1 % of pages refreshed
        pdf, planted = inputs.plant_near_duplicates(
            gen, inputs.pages(gen, ids), n // 100, base + n + 1, rng)
        refresh_ids = np.sort(rng.choice(ids, size=n // 100, replace=False))
        refresh = inputs.pages(gen, refresh_ids + inputs.REFRESH_TEXT_OFFSET)
        refresh["doc_id"] = refresh_ids
        docs_dir = run.path("inputs", f"batch{b}")
        refresh_dir = run.path("inputs", f"refresh{b}")
        inputs.write_parts(pdf, docs_dir, run.nproc)
        inputs.write_parts(refresh, refresh_dir, 1)
        batches.append(Batch(pdf, planted, refresh, docs_dir, refresh_dir))
    return batches


def run_ingest(run: Run) -> None:
    from orama_spark.build.indexer import IndexBuilder
    from orama_spark.build.maintenance import upsert_documents
    from orama_spark.datapipe.dedup import ngram_jaccard_pairs
    from orama_spark.query.engine import SearchIndex
    from orama_spark.sources.webpages import CorpusGenerator

    from sparkstats import plan_metric_sum

    spark, tr = run.spark, run.tracer
    cfg = index_config()
    t0 = time.perf_counter()
    with tr.span("sources.corpus"):
        gen = CorpusGenerator(seed=run.seed)
        batches = _ingest_inputs(run, gen)
    run.layer["sources.corpus_s"] = time.perf_counter() - t0

    results = []

    def op(i: int, b: Batch) -> dict:
        out: dict = {"dir": run.path("index", f"op{i}")}
        tr.new_op()
        with tr.span("op.ingest"):
            docs = spark.read.parquet(b.docs_dir)
            t = time.perf_counter()
            with tr.span("datapipe.dedup"):
                pairs_df = ngram_jaccard_pairs(docs, threshold=DEDUP_THRESHOLD)
                out["pairs"] = pairs_df.collect()
            out["dedup_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with tr.span("build.index"):
                out["build"] = IndexBuilder(
                    cfg, postings_partitions=run.nproc, docs_already_sorted=True
                ).build(docs, out["dir"], input_id=f"perfbench-{run.seed}-{i}")
            out["build_s"] = time.perf_counter() - t
            if tr.enabled:  # file snapshots are trace-only and untimed
                out["index_bytes"] = dir_bytes(out["dir"])
                before = file_snapshot(out["dir"])
            t = time.perf_counter()
            with tr.span("maintenance.upsert"):
                upsert_documents(spark, out["dir"], cfg,
                                 spark.read.parquet(b.refresh_dir))
            with tr.span("engine.load"):
                t_load = time.perf_counter()
                SearchIndex.load(spark, out["dir"], cfg)
                out["load_s"] = time.perf_counter() - t_load
            out["write_s"] = time.perf_counter() - t
        if tr.enabled:
            out["written_bytes"] = bytes_written(before, file_snapshot(out["dir"]))
            out["join_rows"] = plan_metric_sum(pairs_df, "Join", "numOutputRows")
        return out

    run.mark("inputs")
    # the oracles are built on a thread during the warm-up op and joined
    # before the timed region starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracles = [pool.submit(oracle_for, b.pages) for b in batches[1:]]
        op(0, batches[0])
        run.warmup_passes = 1
        oracles = [f.result() for f in oracles]
    run.mark("warm-up")

    run.timed_start = time.time()
    overhead0 = tr.overhead_s
    t_wall = time.perf_counter()
    for i in range(1, len(batches)):
        res = op(i, batches[i])
        results.append((batches[i], res))
        run.op_seconds.append(res["dedup_s"] + res["build_s"] + res["write_s"])
    run.timed_wall_s = time.perf_counter() - t_wall
    run.timed_end = time.time()
    run.trace_overhead_s = tr.overhead_s - overhead0
    run.attempted += len(results)

    _check_ingest(run, cfg, results, oracles)
    run.mark("checks")

    last_batch, last = results[-1]
    live = last_batch.pages.set_index("doc_id")["text"].copy()
    live.loc[last_batch.refresh["doc_id"].to_numpy()] = last_batch.refresh["text"].to_numpy()
    run.index_bytes_per_input_byte = dir_bytes(last["dir"]) / inputs.text_bytes(live)

    L = run.layer
    for stage in ("docs", "tokens", "postings", "dictionary", "dictionary_bylen",
                  "docmeta", "stats"):
        L[f"build.{stage}_s"] = median([r["build"][stage]["seconds"] for _, r in results])
    L["build.index_ms"] = median([r["build_s"] for _, r in results]) * 1000.0
    L["dedup.ms"] = median([r["dedup_s"] for _, r in results]) * 1000.0
    L["dedup.pairs_out"] = median([len(r["pairs"]) for _, r in results])
    L["maintenance.write_ms"] = median([r["write_s"] for _, r in results]) * 1000.0
    L["engine.load_ms"] = median([r["load_s"] for _, r in results]) * 1000.0
    if tr.enabled:
        L["build.index_bytes"] = median([r["index_bytes"] for _, r in results])
        L["dedup.join_rows"] = median([r["join_rows"] for _, r in results])
        L["maintenance.write_amp"] = median(
            [r["written_bytes"] / inputs.text_bytes(b.refresh["text"]) for b, r in results])
    run.record["ingest"] = {
        "pages": INGEST_PAGES, "warmup_pages": INGEST_WARMUP_PAGES,
        "timed_ops": INGEST_TIMED_OPS,
        "ops": [{k: r[k] for k in ("dedup_s", "build_s", "write_s", "load_s")}
                for _, r in results],
    }


def _check_ingest(run: Run, cfg, results, oracles) -> None:
    from orama_spark.query.engine import SearchIndex
    from orama_spark.sources.webpages import CorpusGenerator

    gen = CorpusGenerator(seed=run.seed)
    latency: dict[str, list[float]] = {}
    for n, ((b, res), db) in enumerate(zip(results, oracles)):
        name = f"ingest op {n}"
        failed = len(run.failures)
        skipped = [s for s, v in res["build"].items() if v.get("skipped")]
        if skipped:
            run.fail(f"{name}: build skipped stages {skipped} (dir not fresh)")
        want_docs = len(b.pages)
        if res["build"]["stats"]["docs_count"] != want_docs:
            run.fail(f"{name}: docs_count {res['build']['stats']['docs_count']} != {want_docs}")
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in res["pairs"]}
        missed = [p for p in b.planted if p not in pairs]
        if missed:
            run.fail(f"{name}: planted pairs missed: {missed[:5]} ({len(missed)})")
        texts = b.pages.set_index("doc_id")["text"]
        rng = inputs.rng_for(run.seed, 200 + n)
        keys = sorted(pairs)
        for j in rng.choice(len(keys), size=min(DEDUP_SAMPLE, len(keys)), replace=False):
            a, c = keys[j]
            exact = shingle_jaccard(texts[a], texts[c])
            # dropped hot shingles can only lower the reported value
            if not (pairs[(a, c)] <= exact + 1e-12 and exact >= DEDUP_THRESHOLD):
                run.fail(f"{name}: pair {(a, c)} jaccard {pairs[(a, c)]} vs {exact}")
        for doc_id, text, lang in zip(b.refresh["doc_id"], b.refresh["text"], b.refresh["lang"]):
            db.update({"text": text, "lang": lang}, int(doc_id))
        idx = SearchIndex.load(run.spark, res["dir"], cfg)
        # the serve workload checks every shape; here a prefix and an
        # AND query check the merged-on-read index after the refresh
        checks = inputs.query_sequence(gen, run.seed + 1000 * (n + 1), 1)[:2]
        found, got = [], []
        for q in checks:
            with run.tracer.span(f"engine.{q.shape}"):
                t = time.perf_counter()
                found.append(idx.search(**q.search_kwargs(), limit=K))
                got.append([(r["docid"], r["score"]) for r in found[-1].top_df().collect()])
                latency.setdefault(q.shape, []).append(time.perf_counter() - t)
        for q, rows, count in zip(checks, got, match_counts(found)):
            want = db.search(**q.search_kwargs(), limit=K)
            bad = rank_mismatch(rows, [(h["id"], h["score"]) for h in want["hits"]])
            if bad is None and count != want["count"]:
                bad = f"count {count} != {want['count']}"
            if bad:
                run.fail(f"{name}: refreshed index, {q}: {bad}")
        if len(run.failures) > failed:
            run.failed += 1
    for shape, lat in latency.items():
        run.layer[f"engine.{shape}_p50_ms"] = median(lat) * 1000.0


# ----------------------------------------------------------------- serve
def run_serve(run: Run) -> None:
    from orama_spark.build.indexer import IndexBuilder
    from orama_spark.query.engine import SearchIndex
    from orama_spark.query.wand import BlockIndex
    from orama_spark.sources.webpages import CorpusGenerator

    spark, tr = run.spark, run.tracer
    cfg = index_config()
    t0 = time.perf_counter()
    with tr.span("sources.corpus"):
        gen = CorpusGenerator(seed=run.seed)
        pdf = inputs.pages(gen, 1 + np.arange(SERVE_PAGES))
        inputs.write_parts(pdf, run.path("inputs", "serve"), run.nproc)
    run.layer["sources.corpus_s"] = time.perf_counter() - t0

    idx_dir = run.path("index", "serve")
    # the oracle is built on a thread while Spark builds the index
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle = pool.submit(oracle_for, pdf)
        t = time.perf_counter()
        with tr.span("build.index"):
            built = IndexBuilder(cfg, postings_partitions=run.nproc,
                                 docs_already_sorted=True).build(
                spark.read.parquet(run.path("inputs", "serve")), idx_dir,
                input_id=f"perfbench-{run.seed}")
        run.layer["build.index_ms"] = (time.perf_counter() - t) * 1000.0
        run.layer["build.index_bytes"] = dir_bytes(idx_dir)
        t = time.perf_counter()
        with tr.span("build.blocks"):
            blocks = BlockIndex.build(spark, idx_dir, cfg)
        run.layer["build.blocks_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("engine.load"):
            idx = SearchIndex.load(spark, idx_dir, cfg)
        run.layer["engine.load_ms"] = (time.perf_counter() - t) * 1000.0
        db = oracle.result()
    for stage in ("docs", "tokens", "postings", "dictionary", "dictionary_bylen",
                  "docmeta", "stats"):
        run.layer[f"build.{stage}_s"] = built[stage]["seconds"]
    stale_build = [s for s, v in built.items() if v.get("skipped")]
    seq = inputs.query_sequence(gen, run.seed, SERVE_PER_SHAPE)
    run.mark("index and oracle built")

    def execute(q: inputs.Query):
        """One query through collect(): its (docid, score) rows and, for
        the engine shapes, the SearchResult (for the count check)."""
        res = None
        with tr.span(f"op.{q.shape}"):
            if q.shape == "wand":
                with tr.span("wand.topk"):
                    rows = blocks.wand_topk(q.term, k=K).collect()
            else:
                with tr.span("engine.search"):
                    res = idx.search(**q.search_kwargs(), limit=K)
                with tr.span("engine.collect"):
                    rows = res.top_df().collect()
        return [(r["docid"], r["score"]) for r in rows], res

    def replay():
        lat, rows, found = [], [], []
        for q in seq:
            tr.new_op()
            t = time.perf_counter()
            got, res = execute(q)
            lat.append(time.perf_counter() - t)
            rows.append(got)
            found.append(res)
        return lat, rows, found

    warm = [replay() for _ in range(SERVE_WARMUP_PASSES)]
    run.warmup_passes = SERVE_WARMUP_PASSES
    run.mark("warm-up")
    run.timed_start = time.time()
    overhead0 = tr.overhead_s
    t_wall = time.perf_counter()
    passes = [replay() for _ in range(SERVE_TIMED_PASSES)]
    run.timed_wall_s = time.perf_counter() - t_wall
    run.timed_end = time.time()
    run.trace_overhead_s = tr.overhead_s - overhead0
    run.op_seconds = [x for lat, _, _ in passes for x in lat]
    run.attempted += len(run.op_seconds)

    # correctness, outside the timed region: every replay (warm-up ones
    # too) must return the oracle's ranking
    engine = [i for i, q in enumerate(seq) if q.shape != "wand"]
    counts = dict(zip(engine, match_counts([passes[0][2][i] for i in engine])))
    for i, q in enumerate(seq):
        got = passes[0][1][i]
        if q.shape == "wand":
            bad = rank_mismatch(got, oracle_exact_topk(db, q.term))
        else:
            w = db.search(**q.search_kwargs(), limit=K)
            bad = rank_mismatch(got, [(h["id"], h["score"]) for h in w["hits"]])
            if bad is None and counts[i] != w["count"]:
                bad = f"count {counts[i]} != {w['count']}"
        if bad is None and any(rows[i] != got for _, rows, _ in warm + passes):
            bad = "result changed between replays"
        if bad:
            # every timed instance of a wrong query is a failed op
            run.fail(f"serve {q}: {bad}")
            run.failed += len(passes)

    if stale_build:
        # every query ran against an index that was not built fresh
        run.fail(f"serve set-up: build skipped stages {stale_build}")
        run.failed = run.attempted
    run.mark("checks")
    run.index_bytes_per_input_byte = dir_bytes(idx_dir) / inputs.text_bytes(pdf["text"])
    by_shape: dict[str, list[float]] = {}
    for lat, _, _ in passes:
        for q, x in zip(seq, lat):
            by_shape.setdefault(q.shape, []).append(x)
    for shape in ("prefix", "and", "filter", "fuzzy"):
        run.layer[f"engine.{shape}_p50_ms"] = median(by_shape[shape]) * 1000.0
    run.layer["wand.topk_p50_ms"] = median(by_shape["wand"]) * 1000.0
    if tr.enabled:
        kept = []
        for q in seq:
            if q.shape == "wand":
                st = blocks.pruning_stats(q.term, k=K)
                if st["blocks_total"]:
                    kept.append(st["blocks_kept"] / st["blocks_total"])
        run.layer["wand.blocks_kept_ratio"] = median(kept) if kept else 0.0
    run.layer["serve.window_drift"] = window_drift(run.op_seconds)
    run.record["serve"] = {
        "pages": SERVE_PAGES, "sequence": [str(q) for q in seq],
        "warmup_medians_ms": [median(lat) * 1000.0 for lat, _, _ in warm],
        "timed_passes": SERVE_TIMED_PASSES,
    }


WORKLOADS = {"ingest": run_ingest, "serve": run_serve}
