"""dedup_corpus: the LLM-data dedup job over a seeded corpus.

Closed loop, one job at a time: quality filter -> exact dedup ->
MinHash-LSH near-duplicate pairs -> star connected components -> keep
one document per cluster; plus embedding near-duplicate pairs. The
corpus has planted exact/near duplicate groups and planted near
neighbours; the gate checks that the job recovers exactly those.

The first job runs as the reference's cron-launched processors do, in a
fresh session: its code generation and Python worker start are part of
it (the JVM's JIT and GC threads are left out of operation times, see
METRICS.md).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from . import gen
from .common import now, plan_nodes, settle

QUALITY_MIN = 0.6
JACCARD_MIN = 0.5
COSINE_MIN = 0.95


def corpus(ctx, name: str, scale: float) -> dict:
    out = os.path.join(ctx.work, name)
    os.makedirs(out, exist_ok=True)
    truth = gen.dedup_corpus(ctx.seed, out, scale)
    truth["dir"] = out
    return truth


def job(ctx, truth: dict) -> dict:
    from datalake_scripts_spark.operators import dedup as D
    from datalake_scripts_spark.operators import text as X

    spark, tr = ctx.spark, ctx.trace
    docs = spark.read.parquet(f"{truth['dir']}/documents.parquet")
    emb = spark.read.parquet(f"{truth['dir']}/embeddings.parquet")
    layer: dict[str, float] = {}

    t0, c0 = now(), ctx.cpu()
    with tr.span("text.quality"):
        good = docs.filter(X.quality_score("text") >= QUALITY_MIN)
        if tr.enabled:
            good = good.localCheckpoint()
    with tr.span("dedup.exact"):
        reps = D.exact_dedup(good, ["text"], "doc_id").select("doc_id", "n_dups")
        reps = reps.join(good.select("doc_id", "text"), "doc_id")
        if tr.enabled:
            reps = reps.localCheckpoint()
    with tr.span("dedup.minhash_lsh"):
        pairs = lsh = D.minhash_lsh_pairs(reps, "doc_id", "text", n=2, num_hashes=64,
                                          bands=16, verify_threshold=JACCARD_MIN)
        if tr.enabled:
            pairs = lsh.localCheckpoint()
    with tr.span("dedup.clusters"):
        clusters = D.duplicate_clusters_star(pairs)
        dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        kept = reps.join(dropped, "doc_id", "left_anti").select("doc_id")
        kept_ids = sorted(r[0] for r in kept.collect())
        cluster_rows = clusters.collect()
    with tr.span("similarity.embedding_pairs"):
        vpairs = D.embedding_near_dup_pairs(emb, "vec_id", "embedding",
                                            threshold=COSINE_MIN, n_planes=8, n_tables=8,
                                            seed=42, dim=gen.DEDUP["dim"])
        vec_pairs = sorted((min(a, b), max(a, b)) for a, b in
                           vpairs.select("id_a", "id_b").collect())
    op_s, cpu_s = now() - t0, ctx.cpu() - c0

    if tr.enabled:
        layer.update(_pair_counters(lsh, pairs.count()))
        planted = set(map(tuple, truth["near_pairs"]))
        layer["dedup.planted_recall"] = len(planted & set(vec_pairs)) / max(1, len(planted))

    ok = check(ctx, truth, kept_ids, cluster_rows, vec_pairs)
    return {"op_s": op_s, "cpu_s": cpu_s, "items": truth["docs"], "ok": ok, "layer": layer}


def _pair_counters(lsh_df, verified: int) -> dict:
    """Candidate pairs = rows entering the final Jaccard filter of the
    executed MinHash-LSH plan (band collisions sharing a shingle);
    yield = verified pairs / candidates."""
    nodes = plan_nodes(lsh_df)
    cand = 0
    for i, (name, _, desc) in enumerate(nodes):
        if name == "Filter" and ">=" in desc:
            cand = next((ms["numOutputRows"] for _, ms, _ in nodes[i + 1:]
                         if "numOutputRows" in ms), 0)
            break
    return {"dedup.candidate_pairs": cand,
            "dedup.pair_yield": verified / cand if cand else 0.0}


def check(ctx, truth: dict, kept_ids, cluster_rows, vec_pairs) -> bool:
    """Exactly one document kept per planted group, every other document
    that passes the quality filter kept, the planted groups recovered as
    clusters, and exactly the planted near-neighbour vector pairs found."""
    ok = True
    if kept_ids != truth["keep"]:
        want, got = set(truth["keep"]), set(kept_ids)
        ctx.log(f"gate: kept {len(got)} docs, expected {len(want)} "
                f"({len(got - want)} extra, {len(want - got)} missing)")
        ok = False
    group_min = {d: g[0] for g in truth["groups"] for d in g}
    wrong = [r for r in cluster_rows if group_min.get(r["doc_id"]) != r["cluster_id"]]
    if wrong:
        ctx.log(f"gate: {len(wrong)} docs clustered outside their planted group")
        ok = False
    if vec_pairs != [tuple(p) for p in truth["near_pairs"]]:
        ctx.log(f"gate: {len(vec_pairs)} embedding pairs, "
                f"expected {len(truth['near_pairs'])}")
        ok = False
    return ok


def run(ctx) -> dict:
    truth = corpus(ctx, "main", ctx.scale)
    ops: list[dict] = []
    t_end = now() + ctx.seconds
    while not ops or now() < t_end:
        ctx.trace.op = len(ops)
        settle(ctx.spark)
        ops.append(ctx.guard(job, ctx, truth))
    return {"ops": ops, "inputs": {
        "docs": truth["docs"], "dup_docs": truth["dup_docs"],
        "dup_share": truth["dup_docs"] / truth["docs"], "groups": len(truth["groups"]),
        "low_quality": len(truth["low_quality"]), "vectors": truth["vectors"],
        "planted_vec_pairs": len(truth["near_pairs"]),
        "bytes": sum(os.path.getsize(os.path.join(truth["dir"], f))
                     for f in os.listdir(truth["dir"]))}}
