"""``corpus_curation``: the corpus-ops toolbox over a web-shaped corpus.

Each operation runs the text chain over a ``synth_text_corpus`` table —
Gopher-rule and PII-redaction gates, MinHash LSH duplicate pairs,
bigram-LM scores and DSIR weights — then answers one batch of top-10
queries with ``ivf_topk`` over seeded clustered embeddings.  The traced
run also answers the batch once with ``lsh_topk`` and profiles the KG
layers (``kg.profile``).  ANN results are
scored against exact neighbours computed in numpy; the exact operators
must repeat their results on every operation.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench import eventlog, harness, inputs
from perfbench.harness import closed_loop, neighbour_quality, repeated_setup, summarize

N_DOCS = 1000
N_VECS = 5000
DIM = 64
N_CENTERS = 100
N_QUERIES = 50
K = 10
SETUP_REPS = 3
MIN_RECALL = 0.8
#: one operation varies by 10-15% from the next, so a timed run reports
#: the median of at least two
TIMED_MIN_OPS = 2


class Inputs:
    """One seed's text corpus, embeddings, queries and exact neighbours."""

    def __init__(self, spark, seed: int, root: str, cores: int) -> None:
        import pandas as pd

        from imgfact_spark.synth import TEXT_CORPUS_SCHEMA

        self.root = root
        inputs.text_corpus(seed, N_DOCS, os.path.join(root, "docs"), cores * 2)
        self.docs = spark.read.schema(TEXT_CORPUS_SCHEMA).parquet(os.path.join(root, "docs"))
        vecs, q = inputs.clustered_embeddings(seed, N_VECS, DIM, N_CENTERS, N_QUERIES)
        inputs.write_vectors(vecs, os.path.join(root, "vecs"), cores * 2)
        self.corpus = spark.read.schema("vec_id long, embedding array<double>") \
            .parquet(os.path.join(root, "vecs"))
        self.queries = spark.createDataFrame(
            pd.DataFrame({"query_id": np.arange(N_QUERIES),
                          "embedding": [v.tolist() for v in q]}),
            "query_id long, embedding array<double>",
        )
        self.exact = inputs.exact_topk(vecs, q, K)


# ------------------------------------------------------------------ steps
# Each text step consumes every column it computes (so Catalyst prunes
# nothing from the measured plan) and returns an exact, repeatable value.


def _gates(d):
    from pyspark.sql import functions as F

    from imgfact_spark.functions.text import gopher_rules, redact_pii

    row = d.select(gopher_rules("text").alias("g"),
                   F.length(redact_pii("text")).alias("n")).agg(
        F.count(F.when(F.col("g.keep"), 1)), F.sum("n")).collect()[0]
    return tuple(row)


def _minhash(d):
    from pyspark.sql import functions as F

    from imgfact_spark.operators.dedup import (
        minhash_lsh_dup_pairs, minhash_signature, shingle_df,
    )

    sig = minhash_signature(shingle_df(d, "text", "doc_id", n=3), "doc_id", num_hashes=64)
    pairs = minhash_lsh_dup_pairs(sig, "doc_id", bands=16, rows_per_band=4)
    return tuple(pairs.agg(F.count("*"), F.bit_xor(F.xxhash64("id_a", "id_b"))).collect()[0])


def _lm(d):
    from pyspark.sql import functions as F

    from imgfact_spark.operators.lm import bigram_lm_scores

    return tuple(bigram_lm_scores(d, "text", "doc_id", alpha=0.1).agg(
        F.count(F.when(F.col("n_bigrams") > 0, 1)),
        F.sum(F.round(F.col("avg_logprob") * 1e6).cast("bigint")),
    ).collect()[0])


def _dsir(d):
    from pyspark.sql import functions as F

    from imgfact_spark.operators.selection import dsir_weights

    return tuple(dsir_weights(d, "text", "doc_id", target=d.filter(F.col("lang") == "en")).agg(
        F.count("*"), F.sum(F.round(F.col("weight") * 1e6).cast("bigint")),
    ).collect()[0])


#: (step, layer, function of the documents table)
TEXT_STEPS = (
    ("gates", "functions.text", _gates),
    ("minhash", "operators.dedup", _minhash),
    ("lm", "operators.lm", _lm),
    ("dsir", "operators.selection", _dsir),
)
#: ANN operating points, as in bench.py
IVF = {"n_cells": 32, "nprobe": 8}
LSH = {"n_planes": 5, "n_tables": 8}
LAYERS = sorted({layer for _, layer, _ in TEXT_STEPS} | {"operators.similarity"})


def _ann(data: Inputs, tracer, op_name: str, params: dict) -> tuple[float, tuple]:
    """Answer the query batch; returns (wall, (hits, returned, wanted))."""
    from imgfact_spark.operators import similarity

    with tracer.span(op_name, "operators.similarity"):
        t0 = time.perf_counter()
        rows = getattr(similarity, op_name)(data.corpus, data.queries, dim=DIM, k=K, **params) \
            .select("query_id", "vec_id").collect()
        wall = time.perf_counter() - t0
    got: dict = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
    return wall, neighbour_quality(got, data.exact)


def _operation(data: Inputs, tracer) -> dict:
    walls, exact = {}, {}
    for name, layer, fn in TEXT_STEPS:
        with tracer.span(name, layer):
            t0 = time.perf_counter()
            exact[name] = fn(data.docs)
            walls[name] = time.perf_counter() - t0
    walls["ivf"], ivf = _ann(data, tracer, "ivf_topk", IVF)
    return {"walls": walls, "exact": exact, "ivf": ivf}


def _op(ctx, data: Inputs, i: int, traced: bool) -> dict:
    """One operation, with its IVF recall check."""
    tracer, out = ctx.tracer, ctx.outcome
    tracer.active = traced
    with tracer.span("corpus_curation.op", "workload", root=True) as rec:
        res = _operation(data, tracer)
    tracer.active = False
    out.check(True, "text chain")
    hits, _, wanted = res["ivf"]
    out.check(hits / wanted >= MIN_RECALL, f"op {i}: ivf recall {hits / wanted:.3f}")
    res.update(traced=traced, window=(rec["start"], rec["end"]) if rec else None,
               chain_s=sum(res["walls"][n] for n, _, _ in TEXT_STEPS))
    return res


def _qps(ops: list[dict]) -> float:
    return statistics.median(N_QUERIES / r["walls"]["ivf"] for r in ops)


def run(ctx) -> dict:
    out = ctx.outcome
    data, setup_times = repeated_setup(
        lambda root: Inputs(ctx.spark, ctx.seed, root, ctx.cores), ctx.work,
        1 if ctx.trace else SETUP_REPS)

    t0 = time.perf_counter()
    reference = _op(ctx, data, -1, False)["exact"]
    warmup_s = time.perf_counter() - t0

    results = closed_loop(ctx.seconds,
                          lambda i: _op(ctx, data, i, ctx.trace and harness.traced_op(i)),
                          min_ops=harness.TRACED_MIN_OPS if ctx.trace else TIMED_MIN_OPS)
    for r in results:
        for step, value in r["exact"].items():
            out.check(value == reference[step], f"{step}: {value} != {reference[step]}")

    timed_ops = [r for r in results if not r["traced"]]
    chain_walls = [r["chain_s"] for r in timed_ops]
    query_ms = [r["walls"]["ivf"] / N_QUERIES * 1000 for r in timed_ops]
    hits, returned, wanted = (sum(r["ivf"][j] for r in results) for j in range(3))

    ctx.detail.update({
        "docs": N_DOCS, "vectors": N_VECS, "setup_reps_s": setup_times, "warmup_s": warmup_s,
        "chain_s": summarize(chain_walls), "query_ms": summarize(query_ms),
        "step_s": {n: statistics.median(r["walls"][n] for r in timed_ops)
                   for n in results[0]["walls"]},
        "ivf_qps": _qps(timed_ops),
        "exact": reference,
    })
    e2e = {
        "setup_s": ctx.start_s + statistics.median(setup_times),
        "docs_per_s": N_DOCS / statistics.median(chain_walls),
        "query_p50_ms": statistics.median(query_ms),
        "precision": hits / returned,
        "recall": hits / wanted,
    }
    if not ctx.trace:
        return {"end_to_end": e2e}

    from perfbench import kg

    traced = [r for r in results if r["traced"]]
    windows = [r["window"] for r in traced]
    layers = {
        "session.warmup_s": warmup_s,
        "trace.overhead_s": statistics.median(r["chain_s"] for r in traced)
        - statistics.median(chain_walls),
    }
    ctx.after_stop.append(
        lambda log: layers.update(eventlog.runner_layer(log, windows, ctx.cores)))
    _layers(ctx, data, traced, layers)
    kg.profile(ctx, layers)
    return {"end_to_end": e2e, "per_layer": layers}


def profile(ctx, layers: dict) -> None:
    """The curation layers in another workload's traced run: one traced
    operation over this seed's inputs, then the LSH batch."""
    data = Inputs(ctx.spark, ctx.seed, os.path.join(ctx.work, "curation"), ctx.cores)
    _layers(ctx, data, [_op(ctx, data, 0, True)], layers)


def _layers(ctx, data: Inputs, traced: list[dict], layers: dict) -> None:
    """Per traced operation: each layer's wall, and its task time and
    shuffle once the session has stopped; IVF from the operations, LSH
    from one call after them, whose numbers are its own."""
    tracer = ctx.tracer
    windows = [r["window"] for r in traced]
    n = len(traced)
    hits, _, wanted = (sum(r["ivf"][j] for r in traced) for j in range(3))
    layers["operators.similarity.ivf_qps"] = _qps(traced)
    layers["operators.similarity.ivf_recall"] = hits / wanted
    for layer in LAYERS:
        layers[f"{layer}.wall_s"] = tracer.layer_wall(layer, windows) / n
    tracer.active = True
    lsh_wall, (lsh_hits, _, lsh_wanted) = _ann(data, tracer, "lsh_topk", LSH)
    tracer.active = False
    ctx.outcome.check(lsh_hits / lsh_wanted >= MIN_RECALL,
                      f"lsh recall {lsh_hits / lsh_wanted:.3f}")
    layers["operators.similarity.lsh_qps"] = N_QUERIES / lsh_wall
    layers["operators.similarity.lsh_recall"] = lsh_hits / lsh_wanted

    def fold(log):
        for layer in LAYERS:
            t = eventlog.group_totals(log["stages"], tracer.layer_groups(layer, windows))
            layers[f"{layer}.task_s"] = t["task_s"] / n
            layers[f"{layer}.shuffle_bytes"] = t["shuffle_write"] / n

    ctx.after_stop.append(fold)
