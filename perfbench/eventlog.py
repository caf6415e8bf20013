"""Reads Spark's JSON event log (written by a traced run) into per-job-
description stage totals, and attributes index-build stages to layers.

Jobs carry the description the workload set before calling the program
(``sc.setJobDescription``) and, for Python-triggered actions, a call site
``<action> at <file>:<line>``. Write jobs have no call site; they belong to
the phase of the previous call site, since a build's jobs run in order.
"""

from __future__ import annotations

import ast
import json
import os
from collections import defaultdict

BUILD_PHASES = {
    "_build_docs": "docs",
    "_build_segments": "pairs",
    "_promote_segments": "promote",
}
LAYERS = ("docs", "pairs", "head_salt", "encoder", "promote")


def _function_spans(path: str) -> list[tuple[int, int, str]]:
    with open(path) as f:
        tree = ast.parse(f.read())
    return [
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


class CallSites:
    """Maps ``<file>:<line>`` to the innermost enclosing function name."""

    def __init__(self) -> None:
        self._spans: dict[str, list[tuple[int, int, str]]] = {}

    def function(self, call_site: str | None) -> tuple[str, str] | None:
        if not call_site or " at " not in call_site:
            return None
        loc = call_site.rsplit(" at ", 1)[1]
        path, _, line = loc.rpartition(":")
        if not path.endswith(".py") or not os.path.isfile(path):
            return None
        spans = self._spans.get(path)
        if spans is None:
            spans = self._spans[path] = _function_spans(path)
        n = int(line)
        inner = [s for s in spans if s[0] <= n <= s[1]]
        name = min(inner, key=lambda s: s[1] - s[0])[2] if inner else "<module>"
        return os.path.basename(path), name


def read_events(event_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def stage_table(events: list[dict]) -> list[dict]:
    """One row per completed stage, in job order: job description, call
    site, RDD scope names, wall seconds and summed task metrics."""
    tasks: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or not e.get("Task Metrics"):
            continue
        m = e["Task Metrics"]
        t = tasks[e["Stage ID"]]
        t["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        t["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        t["jvm_gc_s"] += m["JVM GC Time"] / 1000.0
        t["run_s"] += m["Executor Run Time"] / 1000.0
    stage_job: dict[int, dict] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {
                "job": e["Job ID"],
                "description": props.get("spark.job.description"),
                "call_site": props.get("callSite.short"),
            }
            for s in e["Stage IDs"]:
                stage_job[s] = job
    rows = []
    for e in events:
        if e["Event"] != "SparkListenerStageCompleted":
            continue
        si = e["Stage Info"]
        scopes = set()
        for r in si.get("RDD Info", []):
            try:
                scopes.add(json.loads(r["Scope"])["name"])
            except (KeyError, TypeError, ValueError):
                pass
        job = stage_job.get(si["Stage ID"], {"job": -1, "description": None, "call_site": None})
        rows.append(
            {
                **job,
                "stage": si["Stage ID"],
                "scopes": sorted(scopes),
                "wall_s": (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1000.0,
                **{k: 0.0 for k in ("shuffle_write_bytes", "spill_bytes", "jvm_gc_s", "run_s")},
                **tasks.get(si["Stage ID"], {}),
            }
        )
    rows.sort(key=lambda r: (r["job"], r["stage"]))
    return rows


def by_description(rows: list[dict]) -> dict[str, dict[str, float]]:
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for r in rows:
        d = out[r["description"] or ""]
        d["stages"] += 1
        for k in ("shuffle_write_bytes", "spill_bytes", "jvm_gc_s", "run_s", "wall_s"):
            d[k] += r[k]
    return {k: dict(v) for k, v in out.items()}


def build_layers(rows: list[dict], description: str) -> dict[str, dict[str, float]]:
    """Stage totals of one build (by job description) per build layer."""
    sites = CallSites()
    phase = "docs"
    out: dict[str, dict[str, float]] = {
        layer: defaultdict(float) for layer in LAYERS
    }
    for r in rows:
        if r["description"] != description:
            continue
        fn = sites.function(r["call_site"])
        if fn is not None:
            phase = "docs" if fn[0] == "docids.py" else BUILD_PHASES.get(fn[1], phase)
            layer = phase
        elif phase == "pairs":  # the segment write job
            layer = (
                "head_salt"
                if "FlatMapGroupsInPandas" in r["scopes"] and "MapInPandas" not in r["scopes"]
                else "encoder"
            )
        else:
            layer = phase
        d = out[layer]
        d["stages"] += 1
        for k in ("shuffle_write_bytes", "spill_bytes", "jvm_gc_s", "run_s", "wall_s"):
            d[k] += r[k]
    return {k: dict(v) for k, v in out.items()}
