"""Reads a built index's on-disk files directly (pyarrow + JSON), for the
checks and the size metrics; no program code is involved."""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import dir_bytes


def segment_manifests(index_dir: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(index_dir, "manifest", "segment-*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def docs_manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "manifest", "docs.json")) as f:
        return json.load(f)


def _table_digest(table: pa.Table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def content_digest(index_dir: str) -> str:
    """SHA-256 over the segment rows in (seg, term) order and the docmap in
    doc_id order — equal for two builds whose segments and docmap hold the
    same bytes, whatever the part-file names Spark chose."""
    seg = pq.read_table(os.path.join(index_dir, "segments"))
    seg = seg.select(sorted(seg.schema.names))
    seg = seg.cast(pa.schema([f.with_type(pa.int64()) if f.name == "seg" else f for f in seg.schema]))
    seg = seg.sort_by([("seg", "ascending"), ("term", "ascending")])
    docs = pq.read_table(os.path.join(index_dir, "docs"))
    docs = docs.select(sorted(docs.schema.names)).sort_by([("doc_id", "ascending")])
    return _table_digest(seg) + _table_digest(docs)


def sizes(index_dir: str) -> dict[str, int]:
    segs = segment_manifests(index_dir)
    return {
        "segments_bytes": dir_bytes(os.path.join(index_dir, "segments")),
        "docmap_bytes": dir_bytes(os.path.join(index_dir, "docs")),
        "postings": sum(s["postings"] for s in segs),
        "blob_bytes": sum(
            s["doc_blob_bytes"] + s["tf_blob_bytes"] + s["dl_blob_bytes"] for s in segs
        ),
        "head_terms": sum(s["head_terms"] for s in segs),
    }
