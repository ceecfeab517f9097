"""Iterative connected-components clustering + sequential-group filter.

SURVEY.md §2.5 A4/A5/A7. The reference's recursive union-find
(/root/reference/src/commands/dupes.rs:186-216) does not distribute; the
Spark-native equivalent is iterative min-label propagation over an edge
DataFrame (north rule: "union-find over edge DataFrames"). Each round
also hooks the larger endpoint label onto the smaller one and then
jumps every label to its label's label, so a component of diameter d
converges in O(log d) rounds rather than d; `localCheckpoint()` per
round cuts lineage, and a loop that reaches `max_iter` raises.

Per-cluster average similarity is recomputed from the surviving edge set
after convergence — equivalent to the reference's (sum, count) merge
because every accepted edge contributes exactly once (dupes.rs:286-288;
SURVEY.md §7.3).

Skew note: the min-label aggregation uses a two-stage salted reduce
(groupBy(id, salt) -> groupBy(id)) so a single giant component's hub
vertex cannot hot-spot one reducer at 10^12-doc scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .candidates import count_and_est_bytes
from .config import DedupConfig, DEFAULT


def _numpy_min_label(src: np.ndarray, dst: np.ndarray):
    """Vectorized connected components on the driver: (ids, labels) with
    label = MIN vertex id per component (same determinism contract as
    the distributed min-label loop). Hook-and-compress over dense
    indices — every step is a C-level numpy scatter/gather, replacing
    the round-3 per-edge Python dict loop that was a multi-second
    SERIAL chunk in both scaling legs (pure Amdahl drag; profiled 6.6 s
    at 800k docs in the 8-wide leg)."""
    both = np.concatenate([src, dst])
    ids, inv = np.unique(both, return_inverse=True)  # sorted: index-min == id-min
    s, d = inv[: len(src)], inv[len(src):]
    parent = np.arange(len(ids), dtype=np.int64)
    while True:
        before = parent
        p = parent.copy()
        # hook: each edge pulls both endpoints to the smaller label
        np.minimum.at(p, s, parent[d])
        np.minimum.at(p, d, parent[s])
        # full pointer-jumping compression
        while True:
            pp = p[p]
            if np.array_equal(pp, p):
                break
            p = pp
        parent = p
        if np.array_equal(parent, before):
            break
    return ids, ids[parent]


def _driver_union_find(edges_pdf: pd.DataFrame, id_col: str, spark):
    """Connected components over a collected edge frame. The adaptive
    fast path for edge sets that fit the driver comfortably — near-dup
    edge sets are sparse relative to the corpus, and below the cutover
    the distributed loop's per-iteration job latency dwarfs the actual
    work. Transfer is Arrow both ways; the labeling itself is the
    vectorized hook-and-compress above."""
    ids, labels = _numpy_min_label(
        edges_pdf["src"].to_numpy(), edges_pdf["dst"].to_numpy()
    )
    if len(ids) == 0:  # empty edge set: typed empty frame (no inference)
        t = "long" if pd.api.types.is_integer_dtype(edges_pdf["src"]) else "string"
        return spark.createDataFrame([], f"{id_col} {t}, cluster_id {t}")
    out = pd.DataFrame({id_col: ids, "cluster_id": labels})
    return spark.createDataFrame(out)


def connected_components(
    edges: DataFrame,
    id_col: str = "url",
    max_iter: int = 25,
    salt_buckets: int = 16,
    driver_cutover: int = 2_000_000,
    driver_max_bytes: int = 768 * 1024 * 1024,
    metrics: list[dict] | None = None,
) -> DataFrame:
    """Label each vertex of the undirected edge set (src, dst) with the
    minimum vertex id reachable from it. Returns (id, cluster_id).

    Adaptive strategy: edge sets under `driver_cutover` collect to the
    driver for an O(E a(E)) union-find (near-dup edges are sparse; the
    distributed loop's fixed per-round latency would dominate). Larger
    sets run the 10^12-scale path: min-label propagation with root
    hooking and pointer jumping — two label joins, one salted
    aggregation and one pointer-jump join per round, checkpointed to cut
    lineage. A chain of d hops converges in O(log d) rounds; if the loop
    still changes labels after `max_iter` rounds it raises RuntimeError
    instead of returning partial labels.

    `metrics`, when given, receives one dict: the path taken (`driver`
    or `distributed`), the deduplicated edge count and the number of
    distributed rounds (0 on the driver path). It is output only.
    """
    dedup = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    # one driver job decides the cutover: count + byte estimate fused
    # (the round-3/4 limit(256).collect() sampling pass is gone)
    n_edges, est_bytes = count_and_est_bytes(dedup)
    if n_edges <= driver_cutover and est_bytes <= driver_max_bytes:
        if metrics is not None:
            metrics.append({"path": "driver", "edges": n_edges, "rounds": 0})
        spark = edges.sparkSession
        return _driver_union_find(dedup.toPandas(), id_col, spark)

    sym = dedup.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).union(dedup.select(F.col("dst").alias("a"), F.col("src").alias("b")))
    sym = sym.dropDuplicates(["a", "b"]).localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )

    # the null-own sentinel must carry the LABEL type: casting it to
    # string would coerce the whole union to strings, silently switching
    # min() to lexicographic order for int64 doc-id labels
    label_type = dict(dedup.dtypes)["src"]
    # Invariant: label(v) <= v and label(v) lies in v's component. Labels
    # only decrease, so the fixed point is the component minimum.
    for rounds in range(1, max_iter + 1):
        la = labels.select(F.col("id").alias("a"), F.col("label").alias("la"))
        lb = labels.select(F.col("id").alias("b"), F.col("label").alias("lb"))
        # each edge whose endpoint labels differ sends the smaller label
        # to the other endpoint (propagation) AND to that endpoint's
        # label vertex (hooking, which merges whole label trees at once)
        msg = F.explode(
            F.array(
                F.struct(F.col("b").alias("id"), F.col("la").alias("label")),
                F.struct(F.col("lb").alias("id"), F.col("la").alias("label")),
            )
        ).alias("m")
        msgs = (
            sym.join(la, "a").join(lb, "b")
            .filter(F.col("la") < F.col("lb"))
            .select(msg)
            .select("m.id", "m.label", F.lit(None).cast(label_type).alias("own"))
        )
        # the vertex's own row is marked so the aggregation yields
        # (new_label, old_label) in ONE pass — no separate convergence join
        own = labels.select("id", "label", F.col("label").alias("own"))
        # two-stage salted min to tame hub-vertex skew
        hooked = (
            msgs.union(own)
            .withColumn("salt", F.pmod(F.xxhash64("label"), F.lit(salt_buckets)))
            .groupBy("id", "salt")
            .agg(F.min("label").alias("label"), F.min("own").alias("own"))
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.min("own").alias("own"))
        ).localCheckpoint(eager=True)
        # pointer jump: label <- label(label), halving every label path.
        # The join reads `hooked` on both sides; the checkpoint above keeps
        # the edge joins and the salted aggregate from running twice.
        parent = hooked.select(F.col("id").alias("label"), F.col("label").alias("jumped"))
        new_labels = (
            hooked.join(parent, "label")
            .select("id", F.col("jumped").alias("label"), "own")
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("label") != F.col("own")).limit(1).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            if metrics is not None:
                metrics.append({"path": "distributed", "edges": n_edges, "rounds": rounds})
            return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))

    raise RuntimeError(
        f"connected_components did not converge: labels still changed "
        f"after {max_iter} rounds (max_iter={max_iter}, {n_edges} edges)"
    )


def cluster_stats(
    edges: DataFrame, labels: DataFrame, id_col: str = "url"
) -> DataFrame:
    """(cluster_id, avg_sim, n_edges, cluster_size) from accepted edges.

    avg_sim = sum(sim)/count over every accepted edge in the cluster,
    matching the reference's union-time (sum, count) accounting.
    """
    lab = labels.select(F.col(id_col).alias("src"), "cluster_id")
    edge_stats = (
        edges.join(lab, "src")
        .groupBy("cluster_id")
        .agg(F.sum("sim").alias("sim_sum"), F.count(F.lit(1)).alias("n_edges"))
    )
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.join(edge_stats, "cluster_id", "left").select(
        "cluster_id",
        (F.col("sim_sum") / F.col("n_edges")).alias("avg_sim"),
        F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
        "cluster_size",
    )


# ---- sequential-group detector (A7, dupes.rs:332-405) -------------------------


def is_likely_sequential(cleaned_names: list[str]) -> bool:
    """Faithful transcription of the reference's episode/sequence heuristic.

    A group is "sequential" (and therefore NOT duplicates) when its names
    carry a common-length number vector in which at least one position
    varies. Tie-break note: the reference picks the most common length via
    HashMap iteration (unordered on ties); we deterministically prefer the
    larger length on count ties.
    """
    import re

    if len(cleaned_names) < 2:
        return False
    number_sequences = [
        [int(n) if len(n) < 19 else -1 for n in re.findall(r"\d+", name)]
        for name in cleaned_names
    ]
    with_numbers = [s for s in number_sequences if s]
    without = len(cleaned_names) - len(with_numbers)
    if without > 1 and without / len(cleaned_names) > 0.1:
        return False
    lengths: dict[int, int] = {}
    for s in with_numbers:
        lengths[len(s)] = lengths.get(len(s), 0) + 1
    if not lengths:
        return False
    common_len = max(lengths.items(), key=lambda kv: (kv[1], kv[0]))[0]
    if common_len == 0:
        return False
    common = [s for s in with_numbers if abs(len(s) - common_len) <= 1]
    if len(common) < 2:
        return False
    for i in range(common_len):
        vals = {s[i] for s in common if i < len(s)}
        if len(vals) > 1:
            return True
    return False


def sequential_cluster_ids(
    labels: DataFrame, named: DataFrame, id_col: str = "url"
) -> DataFrame:
    """cluster_ids (>1 member) flagged sequential by the detector.

    Grouped-map pandas UDF for bit-exact fidelity (SURVEY.md §7.3):
    clusters are small, so per-group pandas is safe.
    """
    names = labels.join(named.select(id_col, "cleaned_name"), id_col)
    # cluster_id inherits the vertex-id type (string urls or int64 doc_ids)
    cid_type = dict(labels.dtypes)["cluster_id"]

    def detect(key, pdf: pd.DataFrame) -> pd.DataFrame:
        seq = is_likely_sequential(pdf["cleaned_name"].tolist())
        return pd.DataFrame({"cluster_id": [key[0]], "sequential": [seq]})

    flags = names.groupBy("cluster_id").applyInPandas(
        detect, f"cluster_id {cid_type}, sequential boolean"
    )
    return flags.filter(F.col("sequential")).select("cluster_id")


def name_pass_clusters(
    name_edges: DataFrame, named: DataFrame, cfg: DedupConfig = DEFAULT,
    driver_cutover: int = 2_000_000,
    driver_max_bytes: int = 768 * 1024 * 1024,
    id_col: str = "url",
) -> tuple[DataFrame, DataFrame]:
    """Reference 'similar pass' output: (clusters, surviving_edges).

    Clusters with >1 member, sequential groups removed, with avg_sim;
    surviving_edges excludes edges inside sequential clusters so the
    global CC never links through an excluded group.

    Adaptive like connected_components: below the cutover the whole chain
    (union-find, sequential detection, stats, edge filtering) runs on the
    driver in pandas — the distributed version is ~10 small jobs whose
    fixed latency dwarfs the work at accepted-edge volumes; above it, the
    full DataFrame path runs.
    """
    n_edges, est_bytes = count_and_est_bytes(
        name_edges.select("src", "dst"), per_row_overhead=56  # +8: sim col
    )
    if n_edges <= driver_cutover and est_bytes <= driver_max_bytes:
        return _name_pass_driver(name_edges, named, id_col)

    labels = connected_components(
        name_edges, id_col=id_col, salt_buckets=cfg.salt_buckets
    )
    seq = sequential_cluster_ids(labels, named, id_col)
    kept_labels = labels.join(seq, "cluster_id", "left_anti")
    stats = cluster_stats(name_edges, kept_labels, id_col)
    clusters = kept_labels.join(stats, "cluster_id").filter(F.col("cluster_size") > 1)
    lab_src = kept_labels.select(F.col(id_col).alias("src"))
    surviving = name_edges.join(lab_src, "src", "left_semi")
    return clusters, surviving


def _name_pass_driver(name_edges: DataFrame, named: DataFrame, id_col: str = "url"):
    """Driver-side pandas implementation of the similar-pass epilogue.
    Same semantics as the distributed path; Arrow transfer both ways."""
    spark = name_edges.sparkSession
    epdf = name_edges.select("src", "dst", "sim").toPandas()
    if not len(epdf):
        # typed empties up front: every createDataFrame below would
        # otherwise hit empty-object-column schema inference (the same
        # failure mode as the zero-cluster branch), and the `touched`
        # frame one line down was reachable with zero name edges
        id_t = "bigint" if pd.api.types.is_integer_dtype(epdf["src"]) else "string"
        return (
            spark.createDataFrame(
                [],
                f"{id_col} {id_t}, cluster_id {id_t}, avg_sim double,"
                " n_edges long, cluster_size long",
            ),
            spark.createDataFrame(
                [], f"src {id_t}, dst {id_t}, sim double, pass_name string"
            ),
        )
    touched = spark.createDataFrame(
        pd.DataFrame({id_col: pd.unique(epdf[["src", "dst"]].to_numpy().ravel())})
    )
    names_pdf = (
        named.join(touched, id_col, "left_semi")
        .select(id_col, "cleaned_name")
        .toPandas()
    )
    name_of = dict(zip(names_pdf[id_col], names_pdf["cleaned_name"]))

    # vectorized components + pandas group reductions (the dict loops of
    # rounds 1-3 were serial seconds at 800k docs — Amdahl drag on the
    # scaling legs)
    src_arr, dst_arr = epdf["src"].to_numpy(), epdf["dst"].to_numpy()
    ids, labels = _numpy_min_label(src_arr, dst_arr)
    root_of = dict(zip(ids, labels))
    members_by_root = pd.Series(ids).groupby(pd.Series(labels)).agg(list)

    sequential_roots = {
        root
        for root, us in members_by_root.items()
        if len(us) > 1
        and is_likely_sequential([name_of.get(u, "") for u in us])
    }
    # per-cluster edge stats over accepted edges
    edge_root = pd.Series(src_arr).map(root_of)
    grp = epdf["sim"].groupby(edge_root)
    sums = grp.sum().to_dict()
    counts = grp.size().to_dict()

    rows = [
        (u, root, sums.get(root, 0.0) / max(1, counts.get(root, 0)),
         counts.get(root, 0), len(us))
        for root, us in members_by_root.items()
        if root not in sequential_roots and len(us) > 1
        for u in us
    ]
    # explicit DDL for the zero-row branch: schema inference over empty
    # object-dtype pandas columns fails, and on the doc_id path the id
    # columns must come out bigint, not string (same fix as `surviving`)
    id_t = "bigint" if pd.api.types.is_integer_dtype(epdf["src"]) else "string"
    clusters = (
        spark.createDataFrame(
            pd.DataFrame(
                rows,
                columns=[id_col, "cluster_id", "avg_sim", "n_edges", "cluster_size"],
            )
        )
        if rows
        else spark.createDataFrame(
            [],
            f"{id_col} {id_t}, cluster_id {id_t}, avg_sim double,"
            " n_edges long, cluster_size long",
        )
    )
    keep_mask = ~edge_root.isin(sequential_roots).to_numpy()
    surv_pdf = epdf[keep_mask].assign(pass_name="name")
    surviving = (
        spark.createDataFrame(surv_pdf)
        if len(surv_pdf)
        else spark.createDataFrame(
            [], f"src {id_t}, dst {id_t}, sim double, pass_name string"
        )
    )
    return clusters, surviving
