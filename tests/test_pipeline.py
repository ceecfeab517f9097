"""Golden pipeline test: planted-cluster recall + sequential exclusion."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from refine_spark import synth
from refine_spark.pipeline import pair_recall, run_dedup


def test_full_pipeline_recall_and_exclusions(spark, tmp_path):
    docs, truth = synth.to_spark(spark, n_docs=500)
    result = run_dedup(spark, docs, checkpoint_dir=str(tmp_path / "ckpt"))
    clusters = result["clusters"].cache()

    # recall >= 0.99 vs planted (non-sequential) dup pairs (BASELINE.md)
    recall = pair_recall(clusters, truth)
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99"

    # sequential families must NOT be co-clustered by the name pass
    seq_urls = [r["url"] for r in truth.filter(F.col("family") == "sequential").collect()]
    seq_clusters = clusters.filter(F.col("url").isin(seq_urls)).collect()
    # a sequential url may appear via some other pass only if text/substring
    # genuinely links it; with planted distinct texts none should cluster
    assert len(seq_clusters) == 0, f"sequential rows clustered: {seq_clusters[:5]}"

    # metrics recorded per stage
    stages = {m["stage"] for m in result["metrics"]}
    assert {"exact_edges", "text_edges", "name_edges", "substring_edges", "clusters"} <= stages


def test_exact_pass_shuffle_never_carries_payload(spark):
    """Plan-regression guard (round-2 fix): every Exchange in the
    exact-dup plan must carry only the narrow projection — the html
    payload is hashed map-side and never crosses a shuffle."""
    import contextlib
    import io
    import re

    from refine_spark.exact import exact_dup_groups

    docs, _ = synth.to_spark(spark, n_docs=50)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        exact_dup_groups(docs).explain("formatted")
    plan = buf.getvalue()
    # detail sections start "(N) NodeName"; Exchange inputs must not
    # mention the html or text columns
    for section in re.split(r"\n\n", plan):
        if re.match(r"\s*\(\d+\) Exchange", section):
            assert "html#" not in section and "text#" not in section, section


def test_stage_runner_recomputes_partial_stage(spark, tmp_path):
    """A stage directory without _SUCCESS (crashed mid-write) must be
    recomputed on resume while complete stages still resume."""
    import os

    from refine_spark.pipeline import run_dedup

    docs, _ = synth.to_spark(spark, n_docs=150)
    ckpt = str(tmp_path / "ckpt")
    run_dedup(spark, docs, checkpoint_dir=ckpt)
    os.remove(os.path.join(ckpt, "signatures", "_SUCCESS"))
    res = run_dedup(spark, docs, checkpoint_dir=ckpt)
    by_stage = {m["stage"]: m.get("extra") for m in res["metrics"]}
    assert by_stage["signatures"] is None  # recomputed
    assert by_stage["exact_edges"] == "resumed"


def test_name_pass_prefix_blocking_exact(spark):
    """Weighted prefix filtering must not change the name-pass edge set
    vs scoring ALL shared-token pairs (the bound argument in
    candidates.prefix_block_candidates), and the fused name_pass_edges
    must equal the two-step composition."""
    from refine_spark.candidates import prefix_block_candidates, token_block_candidates
    from refine_spark.config import DedupConfig
    from refine_spark.pipeline import prepare
    from refine_spark.scoring import name_pass_edges, score_name_pairs

    docs, _ = synth.to_spark(spark, n_docs=800)
    named = prepare(docs).localCheckpoint().select(
        "url", "cleaned_name", "tokens", "kind"
    )
    # uncapped full blocking = the reference's inverted-index semantics
    cfg = DedupConfig(token_block_df_cap=10**9, band_cap=10**9)
    full = {
        (r[0], r[1], round(r[2], 9))
        for r in score_name_pairs(
            token_block_candidates(named, cfg), named
        ).select("src", "dst", "sim").collect()
    }
    pref = {
        (r[0], r[1], round(r[2], 9))
        for r in score_name_pairs(
            prefix_block_candidates(named), named
        ).select("src", "dst", "sim").collect()
    }
    fused = {
        (r[0], r[1], round(r[2], 9))
        for r in name_pass_edges(named).select("src", "dst", "sim").collect()
    }
    assert pref == full
    assert fused == full


def test_lazy_mode_equivalent(spark):
    """The bench path (lazy=True: no per-stage materialization) must
    produce the identical clustering to the default resumable path."""
    docs, _ = synth.to_spark(spark, n_docs=300)
    a = {
        (r["url"], r["cluster_id"])
        for r in run_dedup(spark, docs)["clusters"].collect()
    }
    b = {
        (r["url"], r["cluster_id"])
        for r in run_dedup(spark, docs, lazy=True)["clusters"].collect()
    }
    assert a == b


def test_fused_signatures_match(spark):
    """The fused minhash+simhash kernel must be bit-identical to the
    standalone kernels (the graded simhash_fingerprints query and the
    DuckDB oracle use the standalone path)."""
    from pyspark.sql import functions as F

    from refine_spark.signatures import (
        make_minhash_udf, make_simhash_udf, with_signatures,
    )

    docs, _ = synth.to_spark(spark, n_docs=60)
    texts = docs.select("url", "text")
    fused = {
        r["url"]: (tuple(r["minhash"]), r["simhash"])
        for r in with_signatures(texts).collect()
    }
    mh, sh = make_minhash_udf(), make_simhash_udf()
    solo = {
        r["url"]: (tuple(r["m"]), r["s"])
        for r in texts.select(
            "url", mh(F.col("text")).alias("m"), sh(F.col("text")).alias("s")
        ).collect()
    }
    assert fused == solo


def test_distributed_cc_matches_driver_path(spark):
    # force the iterative min-label loop (cutover=0) and compare with the
    # driver union-find on the same edge set
    from refine_spark.cluster import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "g"), ("g", "a")],
        "src string, dst string",
    ).withColumn("sim", F.lit(1.0)).withColumn("pass_name", F.lit("t"))
    fast = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    dist = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges, driver_cutover=0).collect()
    }
    assert fast == dist
    assert fast["c"] == "a" and fast["f"] == "a" and fast["e"] == "d"


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_distributed_cc_long_chain_converges(spark, id_type):
    """A chain far longer than `max_iter` hops must converge on the forced
    distributed path at the default `max_iter`: root hooking plus pointer
    jumping needs O(log d) rounds, where one-hop propagation needed d + 1.
    One frame carries two 150-hop chains: ids sorted along the chain (the
    minimum at one end) and shuffled. A too-small `max_iter` raises
    instead of returning partial labels."""
    import numpy as np

    from refine_spark.cluster import _numpy_min_label, connected_components

    chains = [list(range(1_000, 1_151)), random.Random(0).sample(range(5_000, 5_151), 151)]
    src = [v for c in chains for v in c[:-1]]
    dst = [v for c in chains for v in c[1:]]
    if id_type == "string":  # zero-padded: lexicographic == numeric order
        src, dst = [f"v{v:06d}" for v in src], [f"v{v:06d}" for v in dst]
    edges = spark.createDataFrame(list(zip(src, dst)), f"src {id_type}, dst {id_type}")

    metrics: list[dict] = []
    got = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges, driver_cutover=0, metrics=metrics).collect()
    }
    ids, labels = _numpy_min_label(np.array(src), np.array(dst))
    assert got == dict(zip(ids.tolist(), labels.tolist()))
    assert len(set(got.values())) == 2
    assert metrics[0]["path"] == "distributed"
    assert metrics[0]["rounds"] <= 12, metrics  # ~log2(150) + 1, not 151

    if id_type == "long":
        with pytest.raises(RuntimeError, match=r"after 2 rounds \(max_iter=2"):
            connected_components(edges, driver_cutover=0, max_iter=2)


def test_cc_random_graph_parity(spark):
    """Driver and distributed CC both equal `_numpy_min_label` on ~50
    seeded random graphs (stars, chains, cliques, stars hanging off
    chains), each on its own disjoint, shuffled id range that spans
    negative int64s. All graphs share one edge frame, so the distributed
    path runs once."""
    import numpy as np

    from refine_spark.cluster import _numpy_min_label, connected_components

    rng = np.random.default_rng(7)
    src, dst = [], []
    for g in range(50):
        kind, n = g % 4, int(rng.integers(2, 40))
        v = rng.permutation(n + 40) + (g - 25) * 1_000  # disjoint per graph
        if kind == 0:  # star
            s, d = np.full(n - 1, v[0]), v[1:n]
        elif kind == 1:  # chain
            s, d = v[: n - 1], v[1:n]
        elif kind == 2:  # clique on at most 8 vertices
            i, j = np.triu_indices(min(n, 8), 1)
            s, d = v[i], v[j]
        else:  # chain of n hops, star of 40 leaves on a random chain vertex
            hub = v[int(rng.integers(0, n + 1))]
            s = np.concatenate([v[:n], np.full(39, hub)])
            d = np.concatenate([v[1 : n + 1], v[n + 1 : n + 40]])
        flip = rng.random(len(s)) < 0.5
        src.append(np.where(flip, d, s))
        dst.append(np.where(flip, s, d))
    src, dst = np.concatenate(src), np.concatenate(dst)
    edges = spark.createDataFrame(
        list(zip(src.tolist(), dst.tolist())), "src long, dst long"
    )
    ids, labels = _numpy_min_label(src, dst)
    expected = dict(zip(ids.tolist(), labels.tolist()))
    for cutover in (2_000_000, 0):
        got = {
            r["url"]: r["cluster_id"]
            for r in connected_components(edges, driver_cutover=cutover).collect()
        }
        assert got == expected, f"driver_cutover={cutover}"


def test_lazy_run_records_cc_metrics(spark):
    """The pipeline's final CC records its path and round count as a
    metrics row in lazy (bench) mode too."""
    docs, _ = synth.to_spark(spark, n_docs=100)
    result = run_dedup(spark, docs, passes=("exact",), lazy=True)
    rows = [m for m in result["metrics"] if m["stage"] == "cc"]
    assert len(rows) == 1, result["metrics"]
    assert rows[0]["extra"] == "cc path=driver rounds=0"
    assert rows[0]["rows"] >= 0


def test_checkpoint_resume(spark, tmp_path):
    docs, _ = synth.to_spark(spark, n_docs=200)
    ck = str(tmp_path / "ckpt2")
    r1 = run_dedup(spark, docs, checkpoint_dir=ck, passes=("exact",))
    n1 = r1["clusters"].count()
    r2 = run_dedup(spark, docs, checkpoint_dir=ck, passes=("exact",))
    n2 = r2["clusters"].count()
    assert n1 == n2
    assert any(m["extra"] == "resumed" for m in r2["metrics"])


def test_simhash_edges_hot_bucket_exact(spark):
    """Dedupe-before-banding correctness guard (round-3): a group of
    identical fingerprints FAR larger than band_cap must still produce
    every hamming-ball pair in expand='pairs' mode (the old behavior
    truncated the hot band bucket and dropped true edges), and
    expand='star' must yield the same connected components with only
    O(members) edges."""
    import dataclasses

    from refine_spark.cluster import connected_components
    from refine_spark.config import DEFAULT
    from refine_spark.signatures import simhash_edges

    cfg = dataclasses.replace(DEFAULT, band_cap=5)
    fp_a = 0x0FF00FF00FF00FF
    fp_b = fp_a ^ 0b11  # hamming 2 from fp_a (within ball of 3)
    fp_far = fp_a ^ ((1 << 50) - 1)  # far outside every band
    rows = (
        [(f"a{i:03d}", fp_a) for i in range(40)]
        + [(f"b{i:03d}", fp_b) for i in range(25)]
        + [("z000", fp_far)]
    )
    docs = spark.createDataFrame(rows, "url string, simhash long")

    pairs = simhash_edges(docs, cfg, expand="pairs").collect()
    expected = 40 * 39 // 2 + 25 * 24 // 2 + 40 * 25
    assert len(pairs) == expected, f"{len(pairs)} != {expected}"
    assert all(r["src"] < r["dst"] for r in pairs)
    sims = {round(r["sim"], 6) for r in pairs}
    assert sims == {1.0, round(1 - 2 / 60, 6)}
    assert not any(r["src"] == "z000" or r["dst"] == "z000" for r in pairs)

    star = simhash_edges(docs, cfg, expand="star")
    assert star.count() == 39 + 24 + 1  # two stars + one rep-rep edge
    cc_star = {
        r["url"]: r["cluster_id"] for r in connected_components(star).collect()
    }
    cc_pairs = {
        r["url"]: r["cluster_id"]
        for r in connected_components(
            spark.createDataFrame(pairs)
        ).collect()
    }
    assert cc_star == cc_pairs
    assert len(set(cc_star.values())) == 1  # a+b merged, z absent


def test_cap_stats_metrics_logged(spark):
    """Band-cap drop volume must be surfaced, not silent: non-lazy runs
    log one cap_stats metrics row per bucketed pass, and a tiny band_cap
    on a dup-heavy corpus reports a positive dropped-pair estimate for
    the LSH pass (identical docs collide in every band)."""
    import dataclasses
    import re

    from refine_spark.config import DEFAULT

    docs, _ = synth.to_spark(spark, n_docs=150)
    tiny = dataclasses.replace(DEFAULT, band_cap=2)
    result = run_dedup(spark, docs, cfg=tiny, passes=("text", "simhash", "substring"))
    rows = {m["stage"]: m for m in result["metrics"]}
    for stage in ("text_edges_cap", "simhash_edges_cap", "substring_edges_cap"):
        assert stage in rows, f"missing {stage} metrics row"
        assert rows[stage]["extra"].startswith("cap_stats ")
    m = re.search(r"est_dropped_pairs=(\d+)", rows["text_edges_cap"]["extra"])
    assert m and int(m.group(1)) > 0

    # default cap on the same corpus: nothing dropped, accounting says so
    result2 = run_dedup(spark, docs, passes=("text",))
    extra = {m["stage"]: m for m in result2["metrics"]}["text_edges_cap"]["extra"]
    assert "capped_buckets=0" in extra and "est_dropped_pairs=0" in extra

def test_edge_passes_shuffle_int_ids_not_urls(spark):
    """Round-4 scale guard: with the pipeline's int64 doc_id threaded
    through, no Exchange in any edge pass may carry the url string (or
    payload columns) — urls attach once at cluster emission. The
    shuffle-bound middle was measured bandwidth-limited; 8-byte keys are
    the fix (VERDICT r3 item 1)."""
    import contextlib
    import io
    import re

    from refine_spark.exact import exact_edges
    from refine_spark.pipeline import minhash_edges, prepare
    from refine_spark.scoring import name_pass_edges
    from refine_spark.signatures import simhash_edges, with_signatures
    from refine_spark.substring import substring_edges

    docs, _ = synth.to_spark(spark, n_docs=60)
    base = prepare(docs).localCheckpoint()
    signed = with_signatures(base.select("doc_id", "text"))
    named = base.select("doc_id", "cleaned_name", "tokens", "kind")
    frames = {
        "exact": exact_edges(base, id_col="doc_id"),
        "text": minhash_edges(signed, id_col="doc_id"),
        "simhash": simhash_edges(signed, expand="star", id_col="doc_id"),
        "name": name_pass_edges(named, id_col="doc_id"),
        "substring": substring_edges(base, id_col="doc_id"),
    }
    for pass_name, df in frames.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        for section in re.split(r"\n\n", buf.getvalue()):
            if re.match(r"\s*\(\d+\) Exchange", section):
                assert "url#" not in section, (pass_name, section)
                assert "html#" not in section, (pass_name, section)

def test_minhash_verify_join_broadcasts_pairs(spark):
    """Round-4 cost-model guard: with a small candidate-pair set, the
    signature verify join must broadcast the pair side (payload table
    scanned, not shuffled) and compare int32 signature views. Above the
    row cap materialize_pairs withholds the hint (corpus-scale path) —
    exercised by passing a tiny cap through the helper directly."""
    import contextlib
    import io

    from refine_spark.candidates import materialize_pairs
    from refine_spark.pipeline import minhash_edges, prepare
    from refine_spark.signatures import with_signatures

    docs, _ = synth.to_spark(spark, n_docs=80)
    base = prepare(docs).localCheckpoint()
    signed = with_signatures(base.select("doc_id", "text")).localCheckpoint()
    edges = minhash_edges(signed, id_col="doc_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        edges.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan

    # the gate: above the row cap the hint is withheld (the logical plan
    # carries no ResolvedHint), below it the hint is present
    pairs = spark.range(10).selectExpr("id as src", "id + 1 as dst")
    over, n_over = materialize_pairs(pairs, broadcast_max_rows=5)
    under, n_under = materialize_pairs(pairs, broadcast_max_rows=50)
    assert n_over == 10 and n_under == 10
    assert "hint" not in over._jdf.queryExecution().logical().toString().lower()
    assert "hint" in under._jdf.queryExecution().logical().toString().lower()

    # BYTE gate (round-4 ADVICE): rows under the row cap but wide string
    # ids over the byte budget must also withhold the hint — url-keyed
    # standalone callers would otherwise collect GBs for the broadcast
    wide = spark.range(10).selectExpr(
        "repeat('u', 200) || id as src", "repeat('v', 200) || id as dst"
    )
    fat, n_fat = materialize_pairs(wide, broadcast_max_bytes=1024)
    slim, n_slim = materialize_pairs(wide)
    assert n_fat == 10 and n_slim == 10
    assert "hint" not in fat._jdf.queryExecution().logical().toString().lower()
    assert "hint" in slim._jdf.queryExecution().logical().toString().lower()
