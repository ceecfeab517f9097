"""Traced run: per-layer spans and Spark engine counters, measured from
outside the engine by timing the calls into its public functions.

The traced run calls the layers one at a time with a barrier (an eager
localCheckpoint) after each, so every layer's Spark work runs inside its
own span. Each span sets the Spark job description to the layer name, so
the status store can attribute jobs and stages to layers afterwards.
Planning time comes from each finished query's
`queryExecution().tracker().phases()` (optimization + planning; analysis
runs eagerly when a DataFrame is built), collected by a
QueryExecutionListener and attributed to the innermost span that was open
when planning started. Spans stay in memory and are written out once, at
the end, with self time (span duration minus its child spans).

Layers whose public function the workload's job does not call still run,
on a small seeded side input, so every traced run reports every layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from collections import defaultdict
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import functions as F

from refine_spark import pipeline as pipeline_mod
from refine_spark import synth
from refine_spark.candidates import lsh_cap_stats
from refine_spark.checkpoint import StageRunner
from refine_spark.cluster import cluster_stats, connected_components, name_pass_clusters
from refine_spark.config import DEFAULT, DedupConfig
from refine_spark.exact import exact_edges
from refine_spark.pipeline import minhash_edges, prepare, verify_doc_ids
from refine_spark.scoring import name_pass_edges
from refine_spark.signatures import simhash_cap_stats, simhash_edges, with_signatures
from refine_spark.substring import substring_cap_stats, substring_edges, winnow_fingerprints

from workloads import (
    MIN_RECALL, DedupSynth, materialize, planted_recall, sub_seed, wrong_labels,
)

LAYERS = (
    "pipeline.prepare",
    "pipeline.verify_doc_ids",
    "exact.exact_edges",
    "signatures.with_signatures",
    "signatures.simhash_edges",
    "candidates.lsh_candidates",
    "pipeline.minhash_edges",
    "scoring.name_pass_edges",
    "cluster.name_pass_clusters",
    "cluster.connected_components",
    "cluster.cluster_stats",
    "substring.substring_edges",
    "checkpoint.StageRunner",
    "spark_entry.queries",
)

FIELDS = (
    ("wall_s", "s"),  # self time
    ("plan_ms", "ms"),
    ("jobs", "count"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("exec_run_ms", "ms"),
    ("gc_ms", "ms"),  # JVM collection time during the span
    ("task_skew", "ratio"),  # max / median task time, heaviest stage
)

COUNTERS = (
    ("candidates.pairs", "count", "lower"),
    ("candidates.est_dropped_pairs", "count", "lower"),
    ("pipeline.minhash_edges.accept_ratio", "ratio", "higher"),
    ("signatures.simhash_edges.est_dropped_pairs", "count", "lower"),
    ("substring.pairs", "count", "lower"),
    ("substring.est_dropped_pairs", "count", "lower"),
    ("substring.accept_ratio", "ratio", "higher"),
    ("cluster.cc_jobs", "count", "lower"),  # stands in for the CC round count
    ("checkpoint.bytes_written", "B", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.jvm_peak_rss_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
)

# headline queries that read only the tables the traced run writes, less
# the three that re-run pipeline layers the traced run already measures
QUERIES = (
    "token_freq",
    "embedding_cosine_pairs",
    "ann_topk",
    "lsh_ann_topk",
    "text_metrics",
    "source_totals",
)


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [(f"{layer}.{f}", unit, "lower") for layer in LAYERS for f, unit in FIELDS]
    return out + list(COUNTERS)


class _PlanListener:
    """QueryExecutionListener, implemented in Python through py4j: records
    (planning start epoch ms, optimization + planning ms) per query."""

    def __init__(self) -> None:
        self.events: list[tuple[int, int]] = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java API)
        self._record(qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        start, total = None, 0
        for name in ("optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                ph = opt.get()
                total += ph.durationMs()
                start = ph.startTimeMs() if start is None else min(start, ph.startTimeMs())
        if start is not None:
            self.events.append((start, total))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.counters: dict[str, float] = {}
        self._listener = _PlanListener()
        ensure_callback_server_started(self.sc._gateway)
        spark._jsparkSession.listenerManager().register(self._listener)
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._collectors = list(mf.getGarbageCollectorMXBeans())

    def _gc_ms(self) -> int:
        """Collection time of the whole JVM; in local mode the driver and
        the executors share it."""
        return sum(c.getCollectionTime() for c in self._collectors)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "t0": time.monotonic(),
            "epoch0_ms": time.time() * 1000,
            "gc0_ms": self._gc_ms(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["t1"] = time.monotonic()
            rec["epoch1_ms"] = time.time() * 1000
            rec["gc1_ms"] = self._gc_ms()
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1]["name"] if self._stack else None)

    def duration(self, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.spans if s["name"] == name)

    def finish(self) -> None:
        """Drain the listener bus so every planning event has arrived."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    def self_times(self, start: str = "t0", end: str = "t1") -> dict[int, float]:
        """Per span: its `end - start` minus that of its child spans."""
        own = {s["id"]: s[end] - s[start] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s[end] - s[start]
        return own

    def plan_ms_by_span(self) -> dict[int, float]:
        out: dict[int, float] = defaultdict(float)
        for start, ms in self._listener.events:
            inside = [
                s for s in self.spans if s["epoch0_ms"] <= start <= s["epoch1_ms"]
            ]
            if inside:  # innermost = latest-opened of the enclosing spans
                out[max(inside, key=lambda s: s["epoch0_ms"])["id"]] += ms
        return out


def engine_by_label(sc) -> dict[str | None, dict]:
    """Per job-description totals from the status store: jobs, shuffle
    write, spill, executor run time, and the task skew of the heaviest
    stage. A stage shared by several jobs counts once, for the
    first job that lists it."""
    store = sc._jsc.sc().statusStore()
    gw, jvm = sc._gateway, sc._jvm
    stages: dict[int, list] = defaultdict(list)
    it = store.stageList(None, False, False, gw.new_array(jvm.double, 0), None).iterator()
    while it.hasNext():
        s = it.next()
        stages[s.stageId()].append(s)
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        d = j.description()
        sids = j.stageIds()
        jobs.append(
            (j.jobId(), d.get() if d.isDefined() else None,
             [sids.apply(i) for i in range(sids.size())])
        )
    out: dict[str | None, dict] = defaultdict(
        lambda: {"jobs": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                 "exec_run_ms": 0, "task_skew": 1.0, "_heavy": None}
    )
    seen: set[int] = set()
    for _, label, sids in sorted(jobs):
        acc = out[label]
        acc["jobs"] += 1
        for sid in sids:
            if sid in seen:
                continue
            seen.add(sid)
            for s in stages.get(sid, ()):
                run_ms = s.executorRunTime()
                acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
                acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                acc["exec_run_ms"] += run_ms
                if acc["_heavy"] is None or run_ms > acc["_heavy"][0]:
                    acc["_heavy"] = (run_ms, s.stageId(), s.attemptId())
    quantiles = gw.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    for acc in out.values():
        heavy = acc.pop("_heavy")
        if heavy is None:
            continue
        summary = store.taskSummary(heavy[1], heavy[2], quantiles)
        if summary.isDefined():
            dur = summary.get().duration()
            median, top = dur.apply(0), dur.apply(1)
            acc["task_skew"] = top / median if median > 0 else 1.0
    return out


def barrier(df):
    """Evaluate every column of `df` and cut its lineage, so the layer's
    work runs inside its own span and later layers reuse the result."""
    return df.localCheckpoint(eager=True)


@contextlib.contextmanager
def _patched(module, **wrap):
    """Temporarily replace module attributes with wrappers of themselves."""
    old = {k: getattr(module, k) for k in wrap}
    for k, w in wrap.items():
        setattr(module, k, w(old[k]))
    try:
        yield
    finally:
        for k, v in old.items():
            setattr(module, k, v)


def _in_span(tr: Tracer, name: str, on_result=None):
    def wrap(fn):
        def call(*args, **kwargs):
            with tr.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out
        return call
    return wrap


def _ratio(num: float, den: float) -> float:
    return num / den if den else 1.0


def trace_pipeline(tr: Tracer, docs, cfg=DEFAULT) -> dict:
    """The run_dedup stage sequence, one layer per span, with barriers.
    Returns `base` and the stage outputs, keyed by StageRunner stage name."""
    with tr.span("pipeline.prepare"):
        base = prepare(docs, cfg).localCheckpoint()
    with tr.span("pipeline.verify_doc_ids"):
        verify_doc_ids(base)
    with tr.span("exact.exact_edges"):
        exact = barrier(exact_edges(base, cfg, id_col="doc_id"))
    with tr.span("signatures.with_signatures"):
        signed = barrier(with_signatures(base.select("doc_id", "text"), cfg))
    # minhash_edges calls lsh_candidates and materialize_pairs through the
    # pipeline module; wrapping those names nests the candidate layer
    pairs = {}
    cand = _in_span(tr, "candidates.lsh_candidates")
    mat = _in_span(tr, "candidates.lsh_candidates", lambda r: pairs.update(n=r[1]))
    with tr.span("pipeline.minhash_edges"), _patched(
        pipeline_mod, lsh_candidates=cand, materialize_pairs=mat
    ):
        text = barrier(minhash_edges(signed, cfg, id_col="doc_id"))
    with tr.span("signatures.simhash_edges"):
        sim = barrier(simhash_edges(signed, cfg, expand="star", id_col="doc_id"))
    named = base.select("doc_id", "cleaned_name", "tokens", "kind")
    with tr.span("scoring.name_pass_edges"):
        raw_name = barrier(name_pass_edges(named, cfg, id_col="doc_id"))
    with tr.span("cluster.name_pass_clusters"):
        _, surviving = name_pass_clusters(raw_name, named, cfg, id_col="doc_id")
        surviving = barrier(surviving)
    with tr.span("substring.substring_edges"):
        sub = barrier(substring_edges(base, cfg, id_col="doc_id"))
    with tr.span("pipeline.union_edges"):
        edges = barrier(
            reduce(lambda a, b: a.unionByName(b), [exact, text, sim, surviving, sub])
        )
    with tr.span("cluster.connected_components"):
        labels = barrier(
            connected_components(edges, id_col="doc_id", salt_buckets=cfg.salt_buckets)
        )
    with tr.span("cluster.cluster_stats"):
        barrier(cluster_stats(edges, labels, id_col="doc_id"))
    tr.counters["candidates.pairs"] = float(pairs.get("n", 0))
    tr.counters["pipeline.minhash_edges.accept_ratio"] = _ratio(
        text.count(), pairs.get("n", 0)
    )
    return {
        "base": base, "exact_edges": exact, "signatures": signed,
        "text_edges": text, "simhash_edges": sim, "name_edges_raw": raw_name,
        "name_edges": surviving, "substring_edges": sub, "edges": edges,
        "labels": labels,
    }


def trace_cap_stats(tr: Tracer, stages: dict, cfg=DEFAULT) -> None:
    """The cap accounting lazy mode skips, plus the substring candidate
    volume: pairs its fingerprint buckets yield after the band cap."""
    base, signed = stages["base"], stages["signatures"]
    with tr.span("cap_stats"):
        lsh = lsh_cap_stats(signed, cfg, id_col="doc_id").collect()[0]
        sh = simhash_cap_stats(signed, cfg, id_col="doc_id").collect()[0]
        ss = substring_cap_stats(base, cfg, id_col="doc_id").collect()[0]
        n = F.least(F.col("n"), F.lit(cfg.band_cap))
        sub_pairs = (
            winnow_fingerprints(base, cfg, id_col="doc_id")
            .groupBy("fp").agg(F.count_distinct("doc_id").alias("n"))
            .agg(F.coalesce(F.sum(n * (n - 1) / 2), F.lit(0)).cast("long"))
            .collect()[0][0]
        )
    tr.counters["candidates.est_dropped_pairs"] = float(lsh["est_dropped_pairs"])
    tr.counters["signatures.simhash_edges.est_dropped_pairs"] = float(sh["est_dropped_pairs"])
    tr.counters["substring.est_dropped_pairs"] = float(ss["est_dropped_pairs"])
    tr.counters["substring.pairs"] = float(sub_pairs)
    tr.counters["substring.accept_ratio"] = _ratio(
        stages["substring_edges"].count(), sub_pairs
    )


def trace_stage_runner(tr: Tracer, spark, stages: dict, root: str) -> bool:
    """Write the stage outputs run_dedup checkpoints (labels standing in for
    its url-keyed clusters) through StageRunner, then resume each one from
    its checkpoint. True when no stage was rebuilt on resume and each
    resumed stage has its fresh row count."""
    stages = {k: v for k, v in stages.items() if k != "base"}
    shutil.rmtree(root, ignore_errors=True)
    rebuilt: list[str] = []
    with tr.span("checkpoint.StageRunner"):
        fresh = StageRunner(spark, root)
        for stage, df in stages.items():
            fresh.run(stage, lambda df=df: df)
        fresh.write_metrics()
        resumed = StageRunner(spark, root)
        for stage, df in stages.items():
            resumed.run(stage, lambda stage=stage, df=df: rebuilt.append(stage) or df)
    tr.counters["checkpoint.bytes_written"] = float(sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    ))
    rows = [m["rows"] for m in fresh.metrics]
    return not rebuilt and rows == [m["rows"] for m in resumed.metrics]


def write_query_tables(seed: int, sf_dir: str) -> None:
    """Seeded `documents` and `embeddings` tables in the testdata schema."""
    os.makedirs(sf_dir, exist_ok=True)
    docs, _ = synth.gen_documents(500, DedupConfig(seed=sub_seed(seed, -2)))
    pd.DataFrame({
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "text": docs["text"],
        "lang": docs["lang"].fillna("en"),
        "source": [f"src{i % 5}" for i in range(len(docs))],
        "n_chars": docs["text"].str.len().astype(np.int64),
    }).to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    rng = np.random.default_rng(sub_seed(seed, -3))
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, size=500)
    vecs = (centers[label] + 0.6 * rng.normal(size=(500, 64))).astype(np.float32)
    pd.DataFrame({
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": list(vecs),
        "label": label.astype(np.int32),
    }).to_parquet(os.path.join(sf_dir, "embeddings.parquet"), index=False)


def trace_queries(tr: Tracer, spark, sf_dir: str) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    with tr.span("spark_entry.queries"):
        for name in QUERIES:
            materialize(qs[name](spark, sf_dir))


def _recall_of(stages: dict, truth: pd.DataFrame) -> float:
    labels = stages["labels"].join(stages["base"].select("doc_id", "url"), "doc_id")
    return planted_recall(labels.select("url", "cluster_id").toPandas(), truth)


def traced_run(tr: Tracer, spark, wl, seed: int, inp, work: str) -> dict:
    """Run the workload's job traced (root span "job"), then every other
    layer (root span "extras"). Returns the checks it made."""
    attempted = failed = 0
    if wl.name == "dedup_synth":
        with tr.span("job"):
            stages = trace_pipeline(tr, inp.docs)
        truth = inp.truth
    else:
        outputs = []
        with tr.span("job"):
            for cutover in (None, 0):
                with tr.span("cluster.connected_components"):
                    outputs.append(wl.cc(inp, cutover))
                    materialize(outputs[-1])
        for labels in outputs:
            attempted += 1
            failed += int(wrong_labels(labels.toPandas(), inp.expected) > 0)
        # the pipeline layers run on a small seeded corpus of their own
        side = DedupSynth(spark).build(seed, -4, n_docs=300)
        truth = side.truth
        with tr.span("extras"):
            stages = trace_pipeline(tr, side.docs)
    attempted += 1
    failed += int(_recall_of(stages, truth) < MIN_RECALL)
    sf_dir = os.path.join(work, "tables")
    write_query_tables(seed, sf_dir)
    with tr.span("extras"):
        trace_cap_stats(tr, stages)
        resumed_ok = trace_stage_runner(tr, spark, stages, os.path.join(work, "ckpt"))
        trace_queries(tr, spark, sf_dir)
    attempted += 1
    failed += int(not resumed_ok)
    return {"attempted": attempted, "failed": failed}


def layer_metrics(tr: Tracer) -> dict[str, float]:
    """Per-layer fields (self values) plus the named counters."""
    engine = engine_by_label(tr.sc)
    own = tr.self_times()
    gc = tr.self_times("gc0_ms", "gc1_ms")
    plan = tr.plan_ms_by_span()
    out: dict[str, float] = {}
    for layer in LAYERS:
        ids = [s["id"] for s in tr.spans if s["name"] == layer]
        eng = engine.get(layer, {})
        out[f"{layer}.wall_s"] = sum(own[i] for i in ids)
        out[f"{layer}.plan_ms"] = float(sum(plan.get(i, 0.0) for i in ids))
        out[f"{layer}.gc_ms"] = float(sum(gc[i] for i in ids))
        for f in ("jobs", "shuffle_write_bytes", "spill_bytes", "exec_run_ms", "task_skew"):
            out[f"{layer}.{f}"] = float(eng.get(f, 1.0 if f == "task_skew" else 0))
    tr.counters["cluster.cc_jobs"] = float(
        engine.get("cluster.connected_components", {}).get("jobs", 0)
    )
    out.update(tr.counters)
    return out


def write_spans(tr: Tracer, path: str, metrics: dict) -> None:
    own = tr.self_times()
    spans = [
        {"id": s["id"], "name": s["name"], "parent": s["parent"],
         "start_ms": round(s["epoch0_ms"], 3),
         "dur_s": round(s["t1"] - s["t0"], 6), "self_s": round(own[s["id"]], 6)}
        for s in tr.spans
    ]
    with open(path, "w") as fh:
        json.dump({"spans": spans, "metrics": metrics}, fh, indent=1)
