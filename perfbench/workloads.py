"""Seeded workloads: input generators, one timed batch job each, and the
output checks every job must pass.

Each workload is a closed loop: one client in one Spark session issues
its batch jobs back to back. The workload seed reaches only the input
generators; the engine always runs on the default configuration
(`DEFAULT.seed` also seeds the MinHash permutations, so handing it the
workload seed would change the algorithm under test).
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from refine_spark import synth
from refine_spark.cluster import connected_components
from refine_spark.config import DedupConfig
from refine_spark.pipeline import run_dedup

MIN_RECALL = 0.99


def sub_seed(seed: int, index: int) -> int:
    """Non-negative generator seed of input `index` of a run (negative
    indices: warm-up and side inputs). Every timed job gets a fresh input,
    so no result can be reused."""
    return (seed * 1000 + index + 1) % (1 << 63)


def materialize(df) -> None:
    """Evaluate every column of `df` without collecting it. The noop sink
    keeps Catalyst from pruning columns the way `.count()` would."""
    df.write.format("noop").mode("overwrite").save()


class EngineClock:
    """Wall time, and the CPU time the engine has used so far: this Python
    process, the JVM (driver and executors share it in local mode) and
    every process under the JVM, such as PySpark's Python workers.

    CPU time is the benchmark's timing metric because it moves much less
    than wall time when the machine is shared: time the hypervisor gives
    to other guests (CPU steal) stretches wall time, and with tasks on
    several cores every stage waits for its slowest one, but stolen time
    is charged to no process here."""

    def __init__(self, spark):
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.hz = os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        ppid, ticks = {}, {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended during the scan
            # state ppid ... utime stime cutime cstime: the process and its
            # children that have ended
            ppid[int(entry)] = int(f[1])
            ticks[int(entry)] = sum(int(x) for x in f[11:15])
        children = defaultdict(list)
        for pid, parent in ppid.items():
            children[parent].append(pid)
        total, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo.extend(children[pid])
        t = os.times()
        return total / self.hz + t.user + t.system

    def __call__(self) -> tuple[float, float]:
        return time.monotonic(), self.cpu_s()


@dataclass
class JobResult:
    wall_s: float
    cpu_s: float
    items: int
    attempted: int
    failed: int
    # named figures of this job: value and unit
    figures: dict[str, tuple[float, str]] = field(default_factory=dict)


# ---- dedup_synth --------------------------------------------------------


@dataclass
class DocsInput:
    docs: object  # Spark DataFrame, materialized
    truth: pd.DataFrame
    n_docs: int


def planted_recall(labels: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Share of the generator's planted duplicate pairs whose two urls
    carry the same cluster label. `labels` has columns (url, cluster_id);
    urls without a label are singletons."""
    label_of = dict(zip(labels["url"], labels["cluster_id"]))
    planted = truth.dropna(subset=["cluster_id"])
    n_pairs = n_hit = 0
    for _, urls in planted.groupby("cluster_id")["url"]:
        got = [label_of.get(u) for u in urls]
        k = len(got)
        n_pairs += k * (k - 1) // 2
        counts = pd.Series([g for g in got if g is not None]).value_counts()
        n_hit += int((counts * (counts - 1) // 2).sum())
    return 1.0 if n_pairs == 0 else n_hit / n_pairs


class DedupSynth:
    """Seeded `synth` corpus through `run_dedup(lazy=True)`, the bench path.
    Signature, candidate, name-scoring and substring work dominate; CC
    stays on the driver path."""

    name = "dedup_synth"
    n_docs = 1000

    def __init__(self, spark):
        self.spark = spark
        self.clock = EngineClock(spark)

    def build(self, seed: int, index: int, n_docs: int | None = None) -> DocsInput:
        spark = self.spark
        cfg = DedupConfig(seed=sub_seed(seed, index))
        docs, truth = synth.to_spark(spark, n_docs=n_docs or self.n_docs, cfg=cfg)
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        docs = docs.localCheckpoint(eager=True)
        truth_pdf = truth.select("url", "cluster_id").toPandas()
        return DocsInput(docs, truth_pdf, len(truth_pdf))

    def warm(self, seed: int) -> None:
        # full size: the first job at a new input size runs up to 2x slower
        inp = self.build(seed, -1)
        materialize(run_dedup(self.spark, inp.docs, lazy=True)["clusters"])

    def job(self, inp: DocsInput) -> JobResult:
        w0, c0 = self.clock()
        clusters = run_dedup(self.spark, inp.docs, lazy=True)["clusters"]
        materialize(clusters)
        w1, c1 = self.clock()
        wall = w1 - w0
        recall = planted_recall(
            clusters.select("url", "cluster_id").toPandas(), inp.truth
        )
        return JobResult(
            wall, c1 - c0, inp.n_docs, 1, int(recall < MIN_RECALL),
            {
                "dedup_wall_s": (wall, "s"),
                "dedup_docs_per_s": (inp.n_docs / wall, "1/s"),
                "pair_recall": (recall, "ratio"),
            },
        )


# ---- cc_chains ----------------------------------------------------------


def chain_edges(seed: int, n_edges: int, max_hops: int) -> pd.DataFrame:
    """About `n_edges` undirected int64 edges mixing three component shapes:
    small cliques (2-6 vertices), crawl-snapshot chains (geometric length,
    mean 12 hops, capped at `max_hops`) and hub stars (20-200 leaves).
    Vertex ids are distinct random int64s, so a chain's minimum sits at a
    random position along it. One chain of exactly `max_hops` hops has its
    minimum at one end: every input then has the same diameter, so
    label propagation needs the same number of rounds on every seed."""
    rng = np.random.default_rng(seed)
    ids = rng.choice(1 << 62, size=2 * n_edges + 512, replace=False).astype(np.int64)
    v = np.sort(ids[:max_hops + 1])
    src: list[np.ndarray] = [v[:-1]]
    dst: list[np.ndarray] = [v[1:]]
    used, n = max_hops + 1, max_hops
    while n < n_edges:
        r = rng.random()
        if r < 0.45:
            k = int(rng.integers(2, 7))
            v = ids[used:used + k]
            i, j = np.triu_indices(k, 1)
            src.append(v[i])
            dst.append(v[j])
        elif r < 0.9:
            k = min(max_hops, int(rng.geometric(1 / 12))) + 1
            v = ids[used:used + k]
            src.append(v[:-1])
            dst.append(v[1:])
        else:
            k = int(rng.integers(20, 201)) + 1
            v = ids[used:used + k]
            src.append(np.full(k - 1, v[0]))
            dst.append(v[1:])
        used += k
        n += len(src[-1])
    s, d = np.concatenate(src), np.concatenate(dst)
    flip = rng.random(len(s)) < 0.5  # edge direction carries no meaning
    s, d = np.where(flip, d, s), np.where(flip, s, d)
    order = rng.permutation(len(s))
    return pd.DataFrame({"src": s[order], "dst": d[order]})


def min_labels(edges: pd.DataFrame) -> pd.Series:
    """Reference labelling: each vertex -> the minimum vertex id of its
    component, by union-find with path halving (independent of the
    engine's own driver path)."""
    ids, inv = np.unique(
        np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()]),
        return_inverse=True,
    )
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    m = len(edges)
    for a, b in zip(inv[:m].tolist(), inv[m:].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # ids are sorted, so the smaller index is the smaller id
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(x) for x in range(len(ids))])
    return pd.Series(ids[roots], index=ids)


def wrong_labels(labels: pd.DataFrame, expected: pd.Series) -> int:
    """Vertices whose label differs from the reference, plus vertices
    missing from or unknown to the result."""
    got = pd.Series(
        labels["cluster_id"].to_numpy(), index=labels["doc_id"].to_numpy()
    ).astype("Int64")  # nullable: int64 ids must never pass through float
    got = got[~got.index.duplicated(keep=False)]
    aligned = got.reindex(expected.index)
    extra = len(labels) - int(got.index.isin(expected.index).sum())
    mismatch = aligned.ne(expected.astype("Int64")).fillna(True)
    return int(mismatch.sum()) + extra


@dataclass
class EdgesInput:
    edges: object  # Spark DataFrame, materialized
    expected: pd.Series
    n_edges: int


class CcChains:
    """Seeded int64 edge mix through `cluster.connected_components` twice:
    with the default driver cutover, and forced onto the distributed
    min-label loop (`driver_cutover=0`). Only the cluster layer works.

    The loop moves a label one hop per round and, at its default
    `max_iter=25`, stops silently on longer chains with wrong labels.
    Every call here passes `max_iter = max_hops + 1`, the rounds the
    longest chain needs plus the round that sees no change, so the
    distributed path runs to convergence and every label is checked
    against the reference. Chains stop at 32 hops, past the default's 25
    but short of crawl chains of 64: a round costs a fixed ~0.4 s on a
    4-vCPU box, and 65 rounds per job would not fit the time budget."""

    name = "cc_chains"
    n_edges = 10_000
    max_hops = 32
    # a small input with the full-length chain: the warm-up runs as many
    # loop rounds as a timed job, which is what the JIT needs
    warm_edges = 1_000

    def __init__(self, spark):
        self.spark = spark
        self.clock = EngineClock(spark)

    def build(self, seed: int, index: int, n_edges: int | None = None) -> EdgesInput:
        spark = self.spark
        pdf = chain_edges(sub_seed(seed, index), n_edges or self.n_edges, self.max_hops)
        edges = spark.createDataFrame(pdf, "src long, dst long")
        edges = edges.repartition(spark.sparkContext.defaultParallelism)
        edges = edges.localCheckpoint(eager=True)
        return EdgesInput(edges, min_labels(pdf), len(pdf))

    def warm(self, seed: int) -> None:
        inp = self.build(seed, -1, n_edges=self.warm_edges)
        for cutover in (None, 0):
            materialize(self.cc(inp, cutover))

    def cc(self, inp: EdgesInput, cutover: int | None):
        kw = {} if cutover is None else {"driver_cutover": cutover}
        return connected_components(
            inp.edges, id_col="doc_id", max_iter=self.max_hops + 1, **kw
        )

    def job(self, inp: EdgesInput) -> JobResult:
        walls, cpus, wrong = [], [], []
        for cutover in (None, 0):
            w0, c0 = self.clock()
            labels = self.cc(inp, cutover)
            materialize(labels)
            w1, c1 = self.clock()
            walls.append(w1 - w0)
            cpus.append(c1 - c0)
            wrong.append(wrong_labels(labels.toPandas(), inp.expected))
        return JobResult(
            sum(walls), sum(cpus), inp.n_edges, 2, sum(w > 0 for w in wrong),
            {
                "cc_driver_s": (walls[0], "s"),
                "cc_distributed_s": (walls[1], "s"),
                "cc_wrong_labels": (float(sum(wrong)), "count"),
            },
        )


WORKLOADS = {w.name: w for w in (DedupSynth, CcChains)}
