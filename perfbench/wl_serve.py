"""Workload `serve`: one client, closed loop, in a process with no Spark JVM.

Set-up: a child process builds, with the program's IndexBuilder, a 2-shard
conv-range split and a positional + store_text index of the same seeded
corpus, then exits. In an untraced run the three builds run together
and share Spark's one-off costs: the shards together and then the
positional build alone finished 10-13 s later (three runs against one,
seeds 11, 101 and 73775680), which the run budget does not have. A traced
run builds the positional index alone after the shards, timed, for this
workload's build layer metrics; the end-to-end metrics start after the
child has exited and do not depend on its order of builds. The positional
index serves every single-index query kind: a separate standard index
cost one more build, 10-15 s per run. The builds are not part of the
serving process's set-up: setup_s starts when the child has exited and
covers the program's imports, opening the searchers and starting the
shard worker pool. The query pools are made before the child starts.

Timed: rounds of one query of each kind — AND top-k and OR top-k with the
result memo bypassed, SearchService.search with facets and highlighting,
phrase top-k, sharded top-k — and one control unit (control.py), until the
run's seconds are spent and MIN_ROUNDS are done; every COLD_EVERY rounds,
until N_COLD are done, one cold query on a freshly opened LocalSearcher.
A burst of cold queries right after set-up read 12-19 ms from run to run;
spread over the mix they steady.

The query pool has the make-up of corpus.term_queries (head, rare,
head + rare, several head, absent-term, case/punctuation variants and
general queries; k of 10 and 100). Each kind visits the pool in a seeded
order of whole blocks of its classes, so every run's mix has the same
make-up whatever the seed. A Zipf-popular stream was tried first: its
medians followed whichever few queries a seed made hot and spread by
0.3-1.9x of the median across three seeds. A query that raises is counted
in `failed` and left out of the latencies; a wrong result fails the run.

The end-to-end metrics are those `ingest` reports too: set-up, index
size, AND top-k p50/p95 and the mix's rate. The other kinds' latencies
and the serving layers are this workload's own figures.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

from perfbench import common, control, corpus, eventlog, querylayers, reference
from perfbench.build_part import check_index, event_layers, index_bytes_per_turn, index_layers
from perfbench.reference import check_facets, check_headline, check_phrase, check_same_ranking, check_topk

N_TURNS = 10_000
NUM_SEGMENTS = 4
N_COLD = 60  # two of each of the pool's 30 (kind, k) classes
COLD_EVERY = 20  # rounds between cold queries, so they spread over the run
MIN_ROUNDS = 1200  # so that the p95 has about 60 samples beyond it
POOL = 2100  # 70 blocks of the 30 classes
N_PHRASES = 510  # 170 blocks of the 3 k values
N_VERIFY = 40  # distinct queries checked per kind
KINDS = ("and", "or", "search", "phrase", "sharded")


def prepare(run_dir: str, trace: bool) -> None:
    """Child-process entry: build the two shards and the positional index,
    then stop Spark. An untraced run builds the three together. A traced
    run, whose figures are the build layers, builds the shards together and
    then the positional index alone, with the cache cleared, and keeps
    Spark's event log, in which each build's jobs carry its name as job
    description. (Concurrent builds lose the Python call sites that
    attribute a job to a build layer.)"""
    from concurrent.futures import ThreadPoolExecutor

    common.use_run_env(run_dir)
    t0 = time.perf_counter()
    spark = common.start_spark(run_dir, event_log=trace)
    print(f"prepare: session {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    try:
        from discogsography_spark.index.builder import IndexBuilder

        sc = spark.sparkContext
        n = spark.read.parquet(os.path.join(run_dir, "corpus.parquet")).count()

        def build(name, src, **kw):
            sc.setJobDescription(name)  # per thread: Spark pins each to its own JVM thread
            df = spark.read.parquet(os.path.join(run_dir, src))
            builder = IndexBuilder(
                os.path.join(run_dir, name),
                num_segments=NUM_SEGMENTS,
                head_df_threshold=n // 20,
                **kw,
            )
            start = time.perf_counter()
            res = builder.build(df)
            return res, time.perf_counter() - start

        pos_kw = {"with_positions": True, "store_text": True}
        with ThreadPoolExecutor(3) as ex:
            pos = None if trace else ex.submit(build, "pos", "corpus.parquet", **pos_kw)
            for f in [ex.submit(build, f"shard{i}", f"shard{i}.parquet") for i in (0, 1)]:
                f.result()
            if pos is None:
                spark.catalog.clearCache()
                pos = ex.submit(build, "pos", "corpus.parquet", **pos_kw)
            res, pos_s = pos.result()
        storage = sc._jsc.sc().getRDDStorageInfo()
        with open(os.path.join(run_dir, "prepare.json"), "w") as f:
            json.dump(
                {
                    "n_turns": n,
                    "pos_build_s": pos_s,
                    "pos_timings": res.timings,
                    "cached_bytes": sum(int(s.memSize()) + int(s.diskSize()) for s in storage),
                    "persisted_rdds": len(sc._jsc.getPersistentRDDs()),
                },
                f,
            )
    finally:
        common.stop_spark(spark)
    print(f"prepare: done {time.perf_counter() - t0:.1f} s", file=sys.stderr)


def run(seed: int, seconds: float, tracer, run_dir: str, t0: float) -> dict:
    common.use_run_env(run_dir)
    pdf = corpus.make_turns(N_TURNS, seed)
    pdf.to_parquet(os.path.join(run_dir, "corpus.parquet"), index=False)
    convs = pdf["conv_id"].unique()
    split = convs[len(convs) // 2]
    pdf[pdf["conv_id"] < split].to_parquet(os.path.join(run_dir, "shard0.parquet"), index=False)
    pdf[pdf["conv_id"] >= split].to_parquet(os.path.join(run_dir, "shard1.parquet"), index=False)
    inputs = _inputs(seed, pdf)
    subprocess.run(
        [sys.executable, "-m", "perfbench.wl_serve", run_dir, str(int(tracer.enabled))],
        cwd=common.ROOT,
        stdout=sys.stderr,
        check=True,
    )
    # set-up of the serving process: the program's imports, opening the
    # searchers and starting the shard workers, up to the first query
    t_setup = time.perf_counter()
    print(f"serve: indexes built at {t_setup - t0:.1f} s", file=sys.stderr)
    with open(os.path.join(run_dir, "prepare.json")) as f:
        built = json.load(f)

    from discogsography_spark.query.engine import LocalSearcher
    from discogsography_spark.query.serving import SearchService
    from discogsography_spark.query.sharded import ShardedSearcher

    pos_dir = os.path.join(run_dir, "pos")
    querylayers.instrument_decode(tracer)

    def open_local():
        with tracer.span("query.open"):
            s = LocalSearcher(pos_dir)
        querylayers.instrument_lookup(tracer, s)
        return s

    local = open_local()
    with tracer.span("query.serving.init"):
        svc = SearchService(pos_dir, facet_defs={"role": "role"})
    for attr, name in (("matched_docs", "matched"), ("facet_counts", "facets"), ("headline", "headline")):
        tracer.instrument(svc, attr, f"query.serving.{name}")
    sharded = ShardedSearcher([os.path.join(run_dir, "shard0"), os.path.join(run_dir, "shard1")])
    workers = list(sharded._procs._procs)
    try:
        tracer.instrument(sharded._procs, "call", "query.shardpool.call")
        res = _serve(seconds, tracer, t_setup, inputs, local, open_local, svc, sharded)
    finally:
        sharded.close()
        for w in workers:
            w.join(timeout=10)
            if w.is_alive():
                w.terminate()
                w.join()
    _build_figures(res, run_dir, built, inputs["token_lists"], tracer)
    return res


def _inputs(seed: int, pdf) -> dict:
    """The query pools and visiting orders, and what the checks need of the
    corpus; made before the serving process's set-up starts."""
    rng = np.random.default_rng(seed)
    token_lists = [reference.tokenize(t) for t in pdf["text"]]
    pool = corpus.term_queries(rng, corpus.Vocabulary(token_lists), POOL)
    phrases = corpus.phrase_queries(rng, token_lists, N_PHRASES)
    orders = {
        kind: corpus.blocked_order(rng, N_PHRASES, len(corpus.K_CYCLE))
        if kind == "phrase"
        else corpus.blocked_order(rng, POOL, corpus.QUERY_CLASSES)
        for kind in KINDS
    }
    cold = [pool[i] for i in corpus.blocked_order(rng, POOL, corpus.QUERY_CLASSES)[:N_COLD]]
    ids = reference.dense_rank(pdf["conv_id"].tolist(), pdf["turn_idx"].to_numpy())
    text_of = np.empty(len(ids), dtype=object)
    text_of[ids] = pdf["text"].to_numpy()
    return {
        "token_lists": token_lists, "ids": ids, "text_of": text_of,
        "pool": pool, "phrases": phrases, "orders": orders, "cold": cold,
    }


def _serve(seconds, tracer, t_setup, inputs, local, open_local, svc, sharded) -> dict:
    pool, phrases, orders = inputs["pool"], inputs["phrases"], inputs["orders"]
    cold_queries = inputs["cold"]
    pos = svc.searcher

    ops = {
        "and": lambda q, k: local.topk(q, k, use_result_cache=False),
        "or": lambda q, k: local.topk(q, k, mode="or", use_result_cache=False),
        "search": lambda q, k: svc.search(q, k, facets=["role"], highlight=True),
        "phrase": lambda q, k: pos.topk_phrase(q, k),
        "sharded": lambda q, k: sharded.topk(q, k),
    }
    lat = {kind: [] for kind in KINDS}
    lat_round = {kind: [] for kind in KINDS}  # the round of each latency, for its scale
    kept = {kind: {} for kind in KINDS}
    and_df = and_hits = 0
    errors = []  # (operation, query, exception) of operations that raised
    perf = time.perf_counter
    setup_s = perf() - t_setup

    cold_ms, cold_kept, cold_round = [], [], []
    ctl_ms = []
    aside_s = 0.0  # time of cold queries and control units, left out of the mix's rate
    t_mix = perf()
    rounds = n_cold = 0
    while perf() - t_mix < seconds or rounds < MIN_ROUNDS or n_cold < N_COLD:
        if rounds % COLD_EVERY == 0 and n_cold < N_COLD:
            q, k = cold_queries[n_cold]
            n_cold += 1
            t_cold = perf()
            s = open_local()
            t = perf()
            try:
                with tracer.span("query.engine.topk_cold"):
                    r = s.topk(q, k, use_result_cache=False)
            except Exception as e:
                errors.append(("cold", q, e))
            else:
                cold_ms.append((perf() - t) * 1000.0)
                cold_kept.append(((q, k), r))
                cold_round.append(rounds)
            tracer.restore_instance(s)
            aside_s += perf() - t_cold
        for kind in KINDS:
            order = orders[kind]
            q = (phrases if kind == "phrase" else pool)[order[rounds % order.size]]
            df0 = tracer.counters.get("query.engine.lookup_df", 0) if tracer.enabled else 0
            t = perf()
            try:
                with tracer.span(f"query.{kind}"):
                    r = ops[kind](*q)
            except Exception as e:
                errors.append((kind, q, e))
                continue
            lat[kind].append((perf() - t) * 1000.0)
            lat_round[kind].append(rounds)
            if kind == "and" and tracer.enabled:
                and_df += tracer.counters["query.engine.lookup_df"] - df0
                and_hits += len(r)
            if q not in kept[kind] and len(kept[kind]) < N_VERIFY:
                kept[kind][q] = r
        ctl_ms.append(control.unit())
        aside_s += ctl_ms[-1] / 1000.0
        rounds += 1
    mix_s = perf() - t_mix - aside_s
    rss = common.rss_mb()
    tracer.restore()
    for op, q, e in errors[:3]:
        print(f"serve: {op} {q!r} raised:", file=sys.stderr)
        traceback.print_exception(e, file=sys.stderr)

    # ---- checks (untimed) ----
    model = reference.Model()
    model.add(inputs["ids"], inputs["token_lists"])
    for (q, k), r in cold_kept + list(kept["and"].items()):
        want, n = model.topk(q, k)
        check_topk(r, want, n, k, f"and {q!r} k={k}")
    for (q, k), r in kept["or"].items():
        want, n = model.topk(q, k, "or")
        check_topk(r, want, n, k, f"or {q!r} k={k}")
    for (q, k), resp in kept["search"].items():
        want, n = model.topk(q, k)
        check_topk(resp.results, want, n, k, f"search {q!r} k={k}")
        check_facets(resp.facets, resp.total_matched, n, f"search {q!r}")
        for d, _ in resp.results:
            check_headline(resp.headlines.get(d, ""), inputs["text_of"][d], q, f"search {q!r}: doc {d}")
    for (q, k), r in kept["phrase"].items():
        check_phrase(r, model, q, k, f"phrase {q!r} k={k}")
    for (q, k), r in kept["sharded"].items():
        check_same_ranking(r, local.topk(q, k, use_result_cache=False), f"sharded {q!r} k={k}")
        want, n = model.topk(q, k)
        check_topk(r, want, n, k, f"sharded {q!r} k={k}")

    med = statistics.median
    n_ops = rounds * len(KINDS)
    # every query is scaled by the control units run beside it
    f = control.local_scales(ctl_ms)
    at_ref = {kind: np.asarray(lat[kind]) * f[lat_round[kind]] for kind in KINDS}
    e2e = {
        "setup_s": (setup_s, "s"),
        "topk_p50_ms": (med(at_ref["and"]), "ms"),
        "topk_p95_ms": (float(np.percentile(at_ref["and"], 95)), "ms"),
        "queries_per_s": ((n_ops - len(errors)) / (mix_s * f.mean()), "1/s"),
    }
    unscaled = {
        "topk_p50_ms": med(lat["and"]),
        "topk_p95_ms": float(np.percentile(lat["and"], 95)),
        "queries_per_s": (n_ops - len(errors)) / mix_s,
        "or_topk_p50_ms": med(lat["or"]),
        "search_p50_ms": med(lat["search"]),
        "phrase_p50_ms": med(lat["phrase"]),
        "sharded_topk_p50_ms": med(lat["sharded"]),
        "cold_topk_p50_ms": med(cold_ms),
    }
    # the other query kinds, control-scaled: in the trace file and on stderr
    own = {
        "query.or_topk_p50_ms": (med(at_ref["or"]), "ms"),
        "query.search_p50_ms": (med(at_ref["search"]), "ms"),
        "query.phrase_p50_ms": (med(at_ref["phrase"]), "ms"),
        "query.sharded_topk_p50_ms": (med(at_ref["sharded"]), "ms"),
        "query.cold_topk_p50_ms": (med(np.asarray(cold_ms) * f[cold_round]), "ms"),
    }
    layers = {}
    if tracer.enabled:
        layers = querylayers.layers(tracer, 0, and_df, and_hits, rss)
        own.update(_serving_layers(tracer))
    return {
        "correct": True,  # a failed check raises CheckFailed and the run prints no result
        "attempted": n_ops + N_COLD,
        "failed": len(errors),
        "e2e": e2e,
        "unscaled": unscaled,
        "layers": layers,
        "own_layers": own,
    }


def _serving_layers(tracer) -> dict:
    med = statistics.median
    return {
        "query.engine.cold_lookup_ms": (
            med(tracer.child_totals("query.engine.topk_cold", "query.engine.lookup")) * 1000.0, "ms"),
        "query.serving.matched_ms": (tracer.median_ms("query.serving.matched"), "ms"),
        "query.serving.facets_ms": (tracer.median_ms("query.serving.facets"), "ms"),
        "query.serving.headline_ms": (
            med(tracer.child_totals("query.search", "query.serving.headline")) * 1000.0, "ms"),
        "query.shardpool.rpc_ms": (tracer.median_ms("query.shardpool.call"), "ms"),
        "query.serving.init_ms": (tracer.median_ms("query.serving.init"), "ms"),
    }


def _build_figures(res: dict, run_dir: str, built: dict, token_lists, tracer) -> None:
    """Checks the positional index against the corpus and adds its size
    and, in a traced run, the layer metrics of its timed build."""
    pos_dir = os.path.join(run_dir, "pos")
    n = built["n_turns"]
    check_index(pos_dir, token_lists)
    res["e2e"]["index_bytes_per_turn"] = (index_bytes_per_turn(pos_dir, n), "B/turn")
    if tracer.enabled:
        rows = eventlog.stage_table(eventlog.read_events(os.path.join(run_dir, "eventlog")))
        res["layers"].update(index_layers(n, [built["pos_timings"]], [built["pos_build_s"]], pos_dir))
        res["layers"].update(event_layers(rows, ["pos"]))
        res["layers"]["spark.cached_bytes"] = (built["cached_bytes"], "B")
        res["layers"]["spark.persisted_rdds"] = (built["persisted_rdds"], "count")


if __name__ == "__main__":
    prepare(sys.argv[1], sys.argv[2] == "1")
