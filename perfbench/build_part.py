"""The build half of workload `ingest`: Spark index builds over a seeded
Zipfian corpus.

Set-up: corpus, one untimed full-size warm-up build. Timed: standard
builds until the run's seconds are spent (at least one; one build takes
longer than a run's seconds here). Spark's cache is cleared before every
build so that no build reads a copy an earlier one left persisted. The positional build is timed in workload `serve`, whose
set-up builds a positional index anyway.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench import corpus, eventlog, indexfiles, reference
from perfbench.reference import check, check_topk

NUM_SEGMENTS = 4
MIN_STD_BUILDS = 1
N_CHECK_QUERIES = 20


def build_part(spark, pdf, seed, seconds, tracer, run_dir, t0) -> dict:
    """Returns end-to-end metrics, layer metrics known before Spark stops,
    the reference model, the corpus's vocabulary, a finished standard index
    and the build labels."""
    from discogsography_spark.index.builder import IndexBuilder

    src = os.path.join(run_dir, "corpus.parquet")
    pdf.to_parquet(src, index=False)
    n_turns = len(pdf)
    df = spark.read.parquet(src)
    sc = spark.sparkContext

    def build(label: str):
        spark.catalog.clearCache()
        d = os.path.join(run_dir, label)
        sc.setJobDescription(label)
        builder = IndexBuilder(d, num_segments=NUM_SEGMENTS, head_df_threshold=n_turns // 20)
        start = time.perf_counter()
        with tracer.span("index.builder.build"):
            res = builder.build(df)
        return d, res, time.perf_counter() - start

    warm_dir = build("warmup")[0]
    setup_s = time.perf_counter() - t0

    t_start = time.perf_counter()
    std = []
    while len(std) < MIN_STD_BUILDS or time.perf_counter() - t_start < seconds:
        std.append(build(f"std{len(std)}"))
    sc.setJobDescription(None)

    # ---- checks (untimed) ----
    model = reference.Model()
    ids = reference.dense_rank(pdf["conv_id"].tolist(), pdf["turn_idx"].to_numpy())
    token_lists = [reference.tokenize(t) for t in pdf["text"]]
    model.add(ids, token_lists)
    reference.check_identical(
        [indexfiles.content_digest(d) for d in [warm_dir] + [s[0] for s in std]]
    )
    check_index(std[0][0], token_lists)

    from discogsography_spark.query.engine import LocalSearcher

    rng = np.random.default_rng(seed + 7)
    local = LocalSearcher(std[0][0])
    vocab = corpus.Vocabulary(token_lists)
    for q, k in corpus.term_queries(rng, vocab, N_CHECK_QUERIES):
        for mode in ("and", "or"):
            want, n = model.topk(q, k, mode)
            check_topk(local.topk(q, k, mode=mode, use_result_cache=False), want, n, k, f"{mode} {q!r} k={k}")
    attempted = len(std)

    e2e = {
        "setup_s": (setup_s, "s"),
        "index_bytes_per_turn": (index_bytes_per_turn(std[0][0], n_turns), "B/turn"),
    }
    layers = index_layers(n_turns, [s[1].timings for s in std], [s[2] for s in std], std[0][0])
    return {
        "attempted": attempted,
        "e2e": e2e,
        "layers": layers,
        "model": model,
        "vocab": vocab,
        "index": std[-1][0],
        "labels": [f"std{i}" for i in range(len(std))],
    }


def check_index(index_dir: str, token_lists) -> None:
    """The manifest against the corpus: postings, document count, and that
    the head-term salted branch ran."""
    sizes = indexfiles.sizes(index_dir)
    reference.check_postings(sizes["postings"], token_lists)
    check(indexfiles.docs_manifest(index_dir)["n_docs"] == len(token_lists), "manifest n_docs")
    check(sizes["head_terms"] > 0, "the head-term salted branch did not run")


def index_bytes_per_turn(index_dir: str, n_turns: int) -> float:
    """On-disk segments plus docmap (stored text included) per turn."""
    sizes = indexfiles.sizes(index_dir)
    return (sizes["segments_bytes"] + sizes["docmap_bytes"]) / n_turns


def index_layers(n_turns: int, timings: list[dict], build_s: list[float], index_dir: str) -> dict:
    """Layer metrics of timed builds of one `n_turns` corpus, from their
    `BuildResult.timings`, wall times and one finished index: the ones
    both workloads report."""
    med = statistics.median
    sizes = indexfiles.sizes(index_dir)
    return {
        "index.docids.docs_s": (med([t["docs_sec"] for t in timings]), "s"),
        "index.builder.segments_s": (med([t["segments_sec"] for t in timings]), "s"),
        "index.builder.promote_s": (med([t["promote_sec"] for t in timings]), "s"),
        # unscaled Spark rates spread past the largest bound: layer metrics
        "index.builder.build_turns_per_s": (n_turns / med(build_s), "turns/s"),
        "index.builder.head_terms": (sizes["head_terms"], "count"),
        "codec.bytes_per_posting": (sizes["blob_bytes"] / sizes["postings"], "B"),
        "index.docmap_bytes_per_turn": (sizes["docmap_bytes"] / n_turns, "B/turn"),
    }


def event_layers(rows: list[dict], labels: list[str]) -> dict:
    """Stage metrics of the timed builds, whose jobs carry the descriptions
    `labels`, from the event log."""
    med = statistics.median
    out = {}
    totals = eventlog.by_description(rows)
    for key, unit in (("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("jvm_gc_s", "s"), ("stages", "count")):
        out[f"index.builder.{key}"] = (med([totals[l][key] for l in labels]), unit)
    per_build = [eventlog.build_layers(rows, l) for l in labels]
    for layer in eventlog.LAYERS:
        for key, unit in (("shuffle_write_bytes", "B"), ("wall_s", "s")):
            out[f"index.builder.{layer}.{key}"] = (med([b[layer].get(key, 0.0) for b in per_build]), unit)
    return out
