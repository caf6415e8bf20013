"""The live half of workload `ingest`: micro-batch ingest beside queries on
the merged view, over the base index the build half finished.

One untimed pass of queries over the base alone, then rounds until the
run's seconds are spent (at least one; one round takes longer than a
run's seconds here), each DeltaIndexWriter.write_batch of
new conversations, write_deletes of some base conversations and some of
the batch's own, MergedSearcher.reopen and PASSES passes of queries over
base + delta tail + tombstones: each pool query as an AND top-k (`topk`) and as an OR top-k
(`topk_bool` of its terms joined by OR, the merged view's disjunctive
path), each query followed by one control unit. The queries have the
make-up of corpus.term_queries over the base corpus's vocabulary. A query
that raises is counted in `failed`; a failed write or a wrong result ends
the run. Spark's cache is left as the program leaves it; what it still
holds is reported.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

from perfbench import common, control, corpus, eventlog, querylayers, reference
from perfbench.reference import check, check_alive, check_topk

BATCH_TURNS = 2_000
MIN_ROUNDS = 1
POOL = 510  # 17 blocks of the pool's 30 (kind, k) classes
PASS = 90  # queries per pass: 3 whole blocks
PASSES = 12  # query passes after each reopen
N_VERIFY = 10  # queries checked per pass and kind
BASE_DELETE_FRAC = 0.01
BATCH_DELETE_FRAC = 0.2


def live_part(spark, idx: str, base: pd.DataFrame, model, vocab, seed, seconds, tracer, run_dir) -> dict:
    """`idx` is a finished index over `base`, which `model` already holds;
    `vocab` is the base corpus's, and the queries are drawn from it.
    Returns end-to-end metrics, their unscaled values, the layer metrics
    both workloads report, the ones only this workload has, and the batch
    labels."""
    from discogsography_spark.query.engine import LocalSearcher
    from discogsography_spark.streaming.incremental import DeltaIndexWriter, MergedSearcher

    rng = np.random.default_rng(seed + 1)
    sc = spark.sparkContext
    perf = time.perf_counter
    n_ids = 0  # docIDs ever assigned (dead ones keep their slot)
    conv_docs: dict[str, list[int]] = {}

    def insert(pdf: pd.DataFrame, to_model: bool = True) -> None:
        nonlocal n_ids
        ids = n_ids + reference.dense_rank(pdf["conv_id"].tolist(), pdf["turn_idx"].to_numpy())
        n_ids += len(ids)
        if to_model:
            model.add(ids, [reference.tokenize(t) for t in pdf["text"]])
        for c, d in zip(pdf["conv_id"], ids):
            conv_docs.setdefault(c, []).append(int(d))

    insert(base, to_model=False)
    base_convs = list(base["conv_id"].unique())
    writer = DeltaIndexWriter(idx)
    merged = MergedSearcher(idx)
    # the merged view looks its terms up in the base's and every delta's
    # LocalSearcher: instrument the class, not one instance
    querylayers.instrument_decode(tracer)
    querylayers.instrument_lookup(tracer, LocalSearcher)
    pool = corpus.term_queries(rng, vocab, POOL)
    ops = {
        "and": lambda q, k: merged.topk(q, k),
        "or": lambda q, k: merged.topk_bool(" OR ".join(reference.query_terms(q)), k),
    }
    stats = {
        k: [] for k in ("write_s", "turns", "del_s", "deleted", "reopen_ms", "first_ms", "ms", "ctl_ms")
    }
    stats["kind"] = []
    dead: set[int] = set()
    errors = []  # (operation, query, exception) of queries that raised
    and_df = and_hits = 0

    def one_round(b: int) -> None:
        nonlocal and_df, and_hits
        batch = corpus.make_turns(BATCH_TURNS, seed * 1000 + b + 1, conv_prefix=f"d{b:03d}-")
        path = os.path.join(run_dir, f"batch{b}.parquet")
        batch.to_parquet(path, index=False)
        bdf = spark.read.parquet(path)
        n_del_base = max(1, int(len(base_convs) * BASE_DELETE_FRAC))
        victims = [base_convs.pop(int(i)) for i in sorted(rng.choice(len(base_convs), n_del_base, replace=False), reverse=True)]
        convs = batch["conv_id"].unique()
        victims += list(rng.choice(convs, max(1, int(len(convs) * BATCH_DELETE_FRAC)), replace=False))
        kdf = spark.createDataFrame(pd.DataFrame({"conv_id": victims}))
        kdf.cache().count()  # the key frame is input, not work: materialize it untimed

        sc.setJobDescription(f"batch{b}")
        t = perf()
        with tracer.span("streaming.incremental.write_batch"):
            writer.write_batch(bdf, 2 * b)
        stats["write_s"].append(perf() - t)
        sc.setJobDescription(f"deletes{b}")
        t = perf()
        with tracer.span("streaming.incremental.write_deletes"):
            n_dead = writer.write_deletes(kdf, 2 * b + 1)
        stats["del_s"].append(perf() - t)
        sc.setJobDescription(None)
        kdf.unpersist()
        t = perf()
        with tracer.span("query.open"):
            merged.reopen()
        stats["reopen_ms"].append((perf() - t) * 1000.0)
        passes = []
        ctl_ms = []
        for _ in range(PASSES):
            got = []
            for i in corpus.blocked_order(rng, POOL, corpus.QUERY_CLASSES)[:PASS]:
                q, k = pool[i]
                for kind, op in ops.items():
                    df0 = tracer.counters.get("query.engine.lookup_df", 0) if tracer.enabled else 0
                    t = perf()
                    try:
                        with tracer.span(f"query.{kind}"):
                            r = op(q, k)
                    except Exception as e:
                        errors.append((kind, q, e))
                        continue
                    got.append(((perf() - t) * 1000.0, kind, q, k, r))
                    ctl_ms.append(control.unit())
                    if kind == "and" and tracer.enabled:
                        and_df += tracer.counters["query.engine.lookup_df"] - df0
                        and_hits += len(r)
            passes.append(got)

        # ---- checks (untimed) ----
        insert(batch)
        killed = [d for c in victims for d in conv_docs[c]]
        check(n_dead == len(killed), f"batch {b}: {n_dead} tombstoned, want {len(killed)}")
        model.kill(killed)
        dead.update(killed)
        reference.check_n_docs(merged.n_docs, model, f"batch {b}: merged view")
        for _, kind, q, k, r in [x for p in passes for x in p[: 2 * N_VERIFY]]:
            check_alive(r, dead, f"live {kind} {q!r}")
            want, n = model.topk(q, k, kind)
            check_topk(r, want, n, k, f"live {kind} {q!r} k={k}")
        stats["turns"].append(len(batch))
        stats["deleted"].append(n_dead)
        stats["first_ms"] += [ms for ms, kind, _, _, _ in passes[0] if kind == "and"]
        stats["ms"] += [ms for p in passes for ms, _, _, _, _ in p]
        stats["kind"] += [kind for p in passes for _, kind, _, _, _ in p]
        stats["ctl_ms"] += ctl_ms

    # untimed: one pass over the base alone, so that the timed passes do not
    # pay the base's first postings decodes (the first pass after a reopen
    # still pays the new delta's)
    for i in corpus.blocked_order(rng, POOL, corpus.QUERY_CLASSES)[:PASS]:
        for op in ops.values():
            try:
                op(*pool[i])
            except Exception:
                pass  # the timed passes count the queries that raise
    mark = tracer.mark()  # the query layers leave the warm-up pass out
    t_start = perf()
    rounds = 0
    while rounds < MIN_ROUNDS or perf() - t_start < seconds:
        rounds += 1
        one_round(rounds)
    rss = common.rss_mb()
    tracer.restore()

    med = statistics.median
    kinds = np.asarray(stats["kind"])
    ms = np.asarray(stats["ms"])
    # each query is scaled by the control units run beside it
    at_ref = ms * control.local_scales(stats["ctl_ms"])
    e2e = {
        "topk_p50_ms": (med(at_ref[kinds == "and"]), "ms"),
        "topk_p95_ms": (float(np.percentile(at_ref[kinds == "and"], 95)), "ms"),
        "queries_per_s": (at_ref.size / (at_ref.sum() / 1000.0), "1/s"),
    }
    unscaled = {
        "topk_p50_ms": med(ms[kinds == "and"]),
        "topk_p95_ms": float(np.percentile(ms[kinds == "and"], 95)),
        "queries_per_s": ms.size / (ms.sum() / 1000.0),
        "or_topk_p50_ms": med(ms[kinds == "or"]),
    }
    storage = sc._jsc.sc().getRDDStorageInfo()
    cached = sum(int(s.memSize()) + int(s.diskSize()) for s in storage)
    layers = {
        "spark.cached_bytes": (cached, "B"),
        "spark.persisted_rdds": (len(sc._jsc.getPersistentRDDs()), "count"),
    }
    if tracer.enabled:
        layers.update(querylayers.layers(tracer, mark, and_df, and_hits, rss))
    own_layers = {
        # unscaled Spark rates spread past the largest bound: workload figures
        "streaming.incremental.ingest_turns_per_s": (sum(stats["turns"]) / sum(stats["write_s"]), "turns/s"),
        "streaming.incremental.delete_docs_per_s": (sum(stats["deleted"]) / sum(stats["del_s"]), "docs/s"),
        "streaming.incremental.write_batch_s": (med(stats["write_s"]), "s"),
        "streaming.incremental.write_deletes_s": (med(stats["del_s"]), "s"),
        "streaming.incremental.first_pass_p50_ms": (med(stats["first_ms"]), "ms"),
        "streaming.incremental.or_topk_p50_ms": (med(at_ref[kinds == "or"]), "ms"),
        "streaming.incremental.delta_bytes_per_turn": (
            common.dir_bytes(os.path.join(idx, "deltas")) / sum(stats["turns"]), "B/turn"),
    }
    for op, q, e in errors[:3]:
        print(f"live: {op} {q!r} raised:", file=sys.stderr)
        traceback.print_exception(e, file=sys.stderr)
    return {
        "attempted": rounds * (2 + PASSES * PASS * len(ops)),
        "failed": len(errors),
        "e2e": e2e,
        "unscaled": unscaled,
        "layers": layers,
        "own_layers": own_layers,
        "labels": [f"batch{b}" for b in range(1, rounds + 1)],
        "turns": sum(stats["turns"]),
    }


def event_layers(rows: list[dict], labels: list[str], turns: int) -> dict:
    totals = eventlog.by_description(rows)
    shuffle = sum(totals.get(b, {}).get("shuffle_write_bytes", 0.0) for b in labels)
    return {"streaming.incremental.shuffle_write_bytes_per_turn": (shuffle / turns, "B/turn")}
