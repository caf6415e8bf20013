"""Workload `ingest`: the Spark index build and live ingest, in one session.

First the build half (build_part.py): standard index builds over a seeded
Zipfian corpus. Then the live half (live_part.py): micro-batch ingest, deletes,
reopen and queries on the merged view over the last standard build. The
two share one JVM so that one run pays Spark's cold start once.
"""

from __future__ import annotations

import os

from perfbench import common, corpus, eventlog
from perfbench.build_part import build_part
from perfbench.build_part import event_layers as build_event_layers
from perfbench.live_part import event_layers as live_event_layers
from perfbench.live_part import live_part

N_TURNS = 8_000


def run(seed: int, seconds: float, tracer, run_dir: str, t0: float) -> dict:
    common.use_run_env(run_dir)
    pdf = corpus.make_turns(N_TURNS, seed)
    spark = common.start_spark(run_dir, event_log=tracer.enabled)
    try:
        b = build_part(spark, pdf, seed, seconds, tracer, run_dir, t0)
        live = live_part(spark, b["index"], pdf, b["model"], b["vocab"], seed, seconds, tracer, run_dir)
    finally:
        common.stop_spark(spark)  # also completes the event log
    layers = {**b["layers"], **live["layers"]}
    own = live["own_layers"]
    if tracer.enabled:
        rows = eventlog.stage_table(eventlog.read_events(os.path.join(run_dir, "eventlog")))
        layers.update(build_event_layers(rows, b["labels"]))
        own.update(live_event_layers(rows, live["labels"], live["turns"]))
    return {
        "correct": True,  # a failed check raises CheckFailed and the run prints no result
        "attempted": b["attempted"] + live["attempted"],
        "failed": live["failed"],
        "e2e": {**b["e2e"], **live["e2e"]},
        "unscaled": live["unscaled"],
        "layers": layers,
        "own_layers": own,
    }
