"""``corpus_curate``: the data team's curation round on a Zipf-shaped corpus.

A round:

1. ``curate_corpus`` (quality gate, MinHash near-dup canonicalization,
   strict benchmark decontamination, domain mixture, splits);
2. ``embedding_neardup_pairs``, the semantic dedup;
3. an IVF-PQ build (``kmeans_train``, ``pq_train``, ``ivfpq_index``);
4. ``ivfpq_topk`` from the benchmark items to the corpus, the embedding
   decontamination.

Dedup, text and similarity do all of the work here and none in the market
workloads. Rounds repeat until the measuring time is used, at least one. A
round's latency runs from its start to when the curated corpus is written
(``latency_*``) and to when the top-k is written (``side_latency_*``).

Checks: planted contaminated and low-quality docs are gone from the curated
corpus, every round writes the same curated ids, and the ANN recall@10
against exact ``cosine_topk_np`` holds a floor. A traced pass also checks
that its funnel ends in the curated corpus it wrote; the benchmark command
checks that the untraced and single-core passes curate as many docs.
"""

from __future__ import annotations

import json
import time
from contextlib import ExitStack
from pathlib import Path

import pyarrow.parquet as pq

from .common import Result, finish, measure_rounds, run_generator
from .metrics import CORPUS_CALLS
from .trace import Tracer, call_layers, read_event_log

N_DOCS = 2_000
N_BENCH = 60
QUALITY_MIN = 0.64
K = 10
#: a correct IVF-PQ with these settings stays well above this on every seed
RECALL_FLOOR = 0.8


def run(ctx, res: Result) -> None:
    t_setup = time.time()
    data = ctx.work / "data"
    gen = run_generator("corpus", ctx.seed, data, "--docs", str(N_DOCS),
                        "--bench", str(N_BENCH))
    try:
        spark = ctx.session()
    finally:
        finish(gen)
    manifest = json.loads((data / "manifest.json").read_text())
    res.e2e["setup_s"] = time.time() - t_setup

    tracer = Tracer(spark, ctx.trace)

    def one_round(r: int) -> tuple[float, float]:
        tracer.round = r
        t0 = time.time()
        return t0, _round(spark, tracer, _inputs(spark, data), ctx.work / f"out_{r}")

    rounds = measure_rounds(res, ctx.seconds, N_DOCS, one_round)
    res.report.update(curate_docs_per_s=res.e2e["throughput_per_s"], rounds=rounds)
    ctx.tracer = tracer
    _check(spark, res, data, manifest, [ctx.work / f"out_{r}" for r in range(rounds)])
    if ctx.trace:
        _funnel(res, tracer)
        res.check(res.layers["curation.rows_out"] == res.report["curated_docs"],
                  f"funnel ends at {res.layers['curation.rows_out']} rows, "
                  f"the corpus written has {res.report['curated_docs']}")


def _inputs(spark, data: Path) -> dict:
    return {n: spark.read.parquet(str(data / f"{n}.parquet"))
            for n in ("docs", "bench", "embeddings", "bench_embeddings")}


def _round(spark, tracer: Tracer, src: dict, out: Path) -> float:
    """One curation round; returns when the curated corpus was written."""
    from pyspark.sql import functions as F

    from crypto_market_data_etl_spark.operators import curation
    from crypto_market_data_etl_spark.operators.similarity import (
        embedding_neardup_pairs,
        ivfpq_index,
        ivfpq_topk,
        kmeans_train,
        pq_train,
    )

    # the stages curate_corpus calls, each as a span fed by the one before
    stage_names = ["quality_scores", "minhash_jaccard_pairs", "canonical_docs",
                   "contamination_report"]
    with ExitStack() as stack:
        for i, name in enumerate(stage_names):
            prev = f"operators.{stage_names[i - 1]}" if i else None
            stack.enter_context(tracer.wrapped(
                curation, name, f"operators.{name}",
                lambda prev=prev: [tracer.last(prev)] if prev else []))
        curated = tracer.call(
            "operators.curate_corpus",
            lambda: curation.curate_corpus(src["docs"], src["bench"],
                                           quality_min=QUALITY_MIN))
    curated.write.parquet(str(out / "curated"))
    t_curated = time.time()

    emb = src["embeddings"]
    pairs = tracer.call("operators.embedding_neardup_pairs",
                        lambda: embedding_neardup_pairs(emb))
    pairs.write.parquet(str(out / "semdup"))

    def build():
        cents = kmeans_train(emb, centroid_filter=F.col("vec_id") % 64 == 1, n_iters=1)
        books = pq_train(emb, m=4, k=16, n_iters=1)
        return cents, books, ivfpq_index(emb, cents, books).localCheckpoint()

    cents, books, index = tracer.call("operators.ivfpq_build", build, force=False)
    top = tracer.call(
        "operators.ivfpq_topk",
        lambda: ivfpq_topk(index, src["bench_embeddings"], cents, books, emb,
                           n_probe=8, k=K, shortlist=200),
        inputs=[("operators.ivfpq_build", "")])
    top.write.parquet(str(out / "decontam"))
    return t_curated


def _check(spark, res: Result, data: Path, manifest: dict, outs: list[Path]) -> None:
    from crypto_market_data_etl_spark.operators.similarity import cosine_topk_np

    src = _inputs(spark, data)
    exact = cosine_topk_np(src["embeddings"], src["bench_embeddings"], k=K).toPandas()
    want = set(zip(exact["q_id"], exact["n_id"]))
    contaminated = set(manifest["contaminated"])
    low = set(manifest["low_quality"])
    ids0 = None
    recalls = []
    for out in outs:
        ids = set(pq.read_table(out / "curated", columns=["doc_id"])
                  .column("doc_id").to_pylist())
        res.check(not ids & contaminated,
                  f"{len(ids & contaminated)} planted contaminated docs survived")
        res.check(not ids & low, f"{len(ids & low)} low-quality docs survived")
        if ids0 is None:
            ids0 = ids
        else:
            res.check(ids == ids0, "curated ids differ between rounds")
        top = pq.read_table(out / "decontam", columns=["q_id", "n_id"]).to_pandas()
        got = set(zip(top["q_id"], top["n_id"]))
        recalls.append(len(got & want) / len(want))
        res.check(recalls[-1] >= RECALL_FLOOR, f"recall@{K} {recalls[-1]:.3f}")
    res.layers["ann.recall_at_10"] = min(recalls)
    res.report["ann_recall_at_10"] = min(recalls)
    res.report["curated_docs"] = len(ids0)


def _funnel(res: Result, tracer: Tracer) -> None:
    """Rows left after each curation stage (last round's outputs)."""
    from pyspark.sql import functions as F

    o = tracer.outputs
    res.layers["curation.rows_quality"] = o[("operators.quality_scores", "")].filter(
        F.col("quality") >= QUALITY_MIN).count()
    res.layers["curation.rows_canonical"] = o[("operators.canonical_docs", "")].filter(
        F.col("is_canonical")).count()
    res.layers["curation.rows_clean"] = o[("operators.contamination_report", "")].filter(
        F.col("n_hit") == 0).count()
    res.layers["curation.rows_out"] = o[("operators.curate_corpus", "")].count()


def trace_layers(ctx, res: Result) -> None:
    counters = read_event_log(ctx.work / "eventlog")
    res.layers.update(call_layers(ctx.tracer.spans, counters, CORPUS_CALLS))
