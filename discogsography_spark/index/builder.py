"""Inverted-index build: the Spark restatement of the reference extractor
pipeline (SURVEY.md §3.2; /root/reference/extractor/src/extractor.rs:85-439).

Stages (each checkpointed in the manifest, resume = diff):

1. **docs**: stable docID assignment (range-sort dense rank) → vectorized
   tokenize (Arrow pandas UDF — the strict upgrade over the reference's
   row-at-a-time consumers, SURVEY.md §2.10) → materialize
   `docs/` parquet (doc_id, conv_id, turn_idx, dl, tokens) + corpus stats
   (N, total_tokens — the materialized-aggregate pattern of
   /root/reference/graphinator/graphinator.py:572-701).
2. **segments**: explode tokens → (term, doc_id, tf, dl) → term-sharded
   (crc32(term) % S) posting-list construction via applyInPandas, with
   **salted two-phase merge for head terms** (df > threshold): phase 1
   groups on (term, salt) where salt = contiguous docID range, phase 2
   concatenates partials in salt order — loss-free, order-stable, and the
   skew analog of the reference's mega-genre caps
   (/root/reference/api/queries/recommend_queries.py:160-191) done WITHOUT
   dropping data. One Spark job writes all pending segments partitionBy(seg)
   into a tmp dir; the driver then atomically promotes each segment dir and
   commits its manifest record (lineage + metrics: terms, postings written,
   bytes compressed — the FileProcessingStatus analog,
   /root/reference/extractor/src/state_marker.rs:63-77).
3. **_SUCCESS** marker last — send-then-commit ordering
   (/root/reference/extractor/src/extractor.rs:584-600).

Resume: a killed build re-runs `build()`; committed stages/segments are
skipped via manifest diff and the result is byte-identical (tested).
"""

from __future__ import annotations

import os
import shutil
import zlib
from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from discogsography_spark.analysis import TOKEN_PATTERN
from discogsography_spark.codec import (
    encode_term_postings,
    pos_block_byte_offsets,
    varbyte_encode,
)
from discogsography_spark.index.docids import doc_ids_assigned
from discogsography_spark.index.manifest import Manifest, SegmentRecord
from discogsography_spark.params import (
    BLOCK_SIZE,
    BM25Params,
    DEFAULT_NUM_SEGMENTS,
    HEAD_TERM_DF_THRESHOLD,
    HEAD_TERM_SALTS,
)

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
        T.StructField("doc_blob", T.BinaryType(), False),
        T.StructField("tf_blob", T.BinaryType(), False),
        T.StructField("dl_blob", T.BinaryType(), False),
        T.StructField("block_last_doc", T.ArrayType(T.LongType()), False),
        T.StructField("block_doc_off", T.ArrayType(T.LongType()), False),
        T.StructField("block_tf_off", T.ArrayType(T.LongType()), False),
        T.StructField("block_dl_off", T.ArrayType(T.LongType()), False),
        T.StructField("block_max_tfnorm", T.ArrayType(T.DoubleType()), False),
        T.StructField("max_tfnorm", T.DoubleType(), False),
        T.StructField("is_head", T.BooleanType(), False),
        # champion list: top-CHAMPION_LIST_SIZE postings by (tfnorm DESC,
        # doc_id ASC). Single-term BM25 rank is monotone in tfnorm, so a
        # single-term top-k (k ≤ C) is answered EXACTLY from this list —
        # Lucene's impact-ordered early termination, specialized
        T.StructField("champ_doc", T.ArrayType(T.LongType()), False),
        T.StructField("champ_tf", T.ArrayType(T.LongType()), False),
        T.StructField("champ_dl", T.ArrayType(T.LongType()), False),
        # token positions, flat varbyte stream in posting order; the per-
        # posting slice boundaries are the cumulative tf (positions per
        # posting == tf). Empty for indexes built without positions.
        T.StructField("pos_blob", T.BinaryType(), True),
        # byte offsets into pos_blob at each posting-block boundary
        # (nblocks + 1 entries, final = len(pos_blob)): positions are
        # varbyte-encoded standalone, so any block slice decodes
        # independently — block-skip for the positional stream. Empty for
        # indexes without positions; absent in pre-directory indexes
        # (readers fall back to full-stream decode).
        T.StructField("block_pos_off", T.ArrayType(T.LongType()), True),
    ]
)

# Champion-list length: the impact-ordered prefix kept per term. Sized so
# (a) single-term top-k up to k=256 is answered without touching postings and
# (b) the conjunctive evaluator's champion-seeded theta has enough
# intersection survivors to cover k=100 queries (survival rate is roughly the
# other terms' df/N product, so 512 champs keep ~100+ seeds for head pairs).
# Cost: 512*3 int64s per term — negligible against the posting blobs.
CHAMPION_LIST_SIZE = 512

PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("doc_bytes", T.BinaryType(), False),
        T.StructField("tf_bytes", T.BinaryType(), False),
        T.StructField("dl_bytes", T.BinaryType(), False),
        T.StructField("pos_bytes", T.BinaryType(), True),
    ]
)


def term_segment(term: str, num_segments: int) -> int:
    """Stable term→segment shard; crc32 matches Spark's F.crc32 so the
    query side can prune segments driver-side."""
    return zlib.crc32(term.encode("utf-8")) % num_segments


def _encode_arrays(
    term: str,
    seg: int,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
    is_head: bool,
    positions: np.ndarray | None = None,
) -> dict:
    """Encode one term's (already doc-sorted) postings into a segment row.
    `positions` (optional): flat token positions aligned with the posting
    order — ascending within each posting's run of tf entries."""
    tf_f = tfs.astype(np.float64)
    norm = k1 * (1.0 - b + b * (dls.astype(np.float64) / avgdl))
    tfnorm = tf_f / (tf_f + norm)
    enc = encode_term_postings(doc_ids, tfs, dls, tfnorm, block_size)
    c = min(CHAMPION_LIST_SIZE, doc_ids.size)
    if doc_ids.size > c:
        # tie-safe selection: keep everything at/above the c-th tfnorm, then
        # exact (tfnorm DESC, doc ASC) order — avoids a full-list lexsort
        kth = np.partition(-tfnorm, c - 1)[c - 1]
        cand = np.flatnonzero(-tfnorm <= kth)
    else:
        cand = np.arange(doc_ids.size)
    order = np.lexsort((doc_ids[cand], -tfnorm[cand]))[:c]
    champs = cand[order]
    enc.update(
        {
            "term": term,
            "seg": seg,
            "is_head": is_head,
            "champ_doc": doc_ids[champs].tolist(),
            "champ_tf": tfs[champs].astype(np.int64).tolist(),
            "champ_dl": dls[champs].astype(np.int64).tolist(),
            "pos_blob": (
                varbyte_encode(positions.astype(np.uint64))
                if positions is not None and positions.size
                else b""
            ),
            "block_pos_off": (
                pos_block_byte_offsets(positions, tfs, block_size).tolist()
                if positions is not None and positions.size
                else []
            ),
        }
    )
    return enc


def pair_schema(with_pos: bool) -> str:
    """Schema of the map-side pre-aggregated (doc, term) pair stream."""
    return "doc_id long, term string, tf long, dl int" + (
        ", pos array<long>" if with_pos else ""
    )


def _pair_rows_fn(with_pos: bool):
    """mapInPandas function: (doc_id, dl, tokens) rows → one row per
    (doc, term) pair with tf (and the ascending position array when
    with_pos) computed INSIDE the scan task — a document's tokens live in
    one row, so the aggregation needs no shuffle (optimization guide §2.3
    'aggregate before you shuffle'). Shared by the segment build and the
    streaming delta writer."""

    def pair_rows(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            e = pdf[["doc_id", "dl", "tokens"]].explode("tokens")
            e = e.rename(columns={"tokens": "term"})
            e = e[e["term"].notna()]
            if len(e) == 0:
                # an all-empty-token slice: an empty groupby result would
                # carry default (float64) dtypes that Arrow cannot convert
                # to the declared list<long>/long schema
                continue
            if with_pos:
                # token's index in the analyzed stream (0-based, the
                # posexplode contract); exploded order within a doc is
                # stream order, and pandas groupby preserves it
                e["pos"] = e.groupby(level=0).cumcount()
                g = (
                    e.groupby(["doc_id", "term"], sort=False)
                    .agg(
                        tf=("term", "size"),
                        dl=("dl", "first"),
                        pos=("pos", list),
                    )
                    .reset_index()
                )
                yield g[["doc_id", "term", "tf", "dl", "pos"]]
            else:
                g = (
                    e.groupby(["doc_id", "term"], sort=False)
                    .agg(tf=("term", "size"), dl=("dl", "first"))
                    .reset_index()
                )
                yield g[["doc_id", "term", "tf", "dl"]]

    return pair_rows


def _runlength_tf(
    doc_ids: np.ndarray, dls: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collapse a doc-sorted token stream (one row per occurrence) into
    (unique_doc_ids, tf, dl) via run-length — the map-side-combine work done
    vectorized at encode time instead of as its own shuffle stage."""
    chg = np.flatnonzero(np.concatenate(([True], doc_ids[1:] != doc_ids[:-1])))
    u = doc_ids[chg]
    tf = np.diff(np.concatenate((chg, [doc_ids.size])))
    return u, tf.astype(np.int64), dls[chg]


def _encode_sorted_stream(
    batches, k1: float, b: float, avgdl: float, block_size: int,
    with_positions: bool = False,
    pre_aggregated: bool = False,
):
    """mapInPandas encoder over partitions sorted by (term, doc_id): buffers
    the partition-trailing term across Arrow batches, emits one segment row
    per term. This replaces per-term applyInPandas groups — one Arrow
    exchange per PARTITION instead of per TERM, which is the difference
    between O(vocab) and O(partitions) framing overhead at 10^12 scale.

    Input rows are RAW token occurrences (term, seg, doc_id, dl), one per
    token: term frequencies are computed here by run-length over the sorted
    stream, which removes the dedicated groupBy(term, doc_id) shuffle from
    the build (SURVEY.md §4 "minimize shuffles").

    `pre_aggregated=True` consumes POSTING rows instead (term, seg, doc_id,
    tf, dl[, pos:array]) — one row per (term, doc), tf already computed and
    positions (when present) a per-posting ascending array. This is the
    compaction path, which re-encodes decoded postings rather than raw
    tokens (streaming/incremental.py compact()).

    Buffering is fragment-based: Arrow batches accumulate in a list and are
    concatenated only once per ~TARGET rows (NOT per batch — a per-batch
    concat of the open tail is quadratic in the largest term's posting count
    and turned 6M-turn builds superlinear)."""
    TARGET = 1 << 19  # rows per concat+flush cycle

    def encode_frame(pdf: pd.DataFrame) -> pd.DataFrame:
        terms = pdf["term"].to_numpy()
        # distinct-term boundaries in the sorted stream
        starts = np.flatnonzero(
            np.concatenate(([True], terms[1:] != terms[:-1]))
        )
        ends = np.concatenate((starts[1:], [len(terms)]))
        doc_ids = pdf["doc_id"].to_numpy().astype(np.int64)
        dls = pdf["dl"].to_numpy().astype(np.int64)
        segs = pdf["seg"].to_numpy()
        tfs = (
            pdf["tf"].to_numpy().astype(np.int64) if pre_aggregated else None
        )
        if with_positions:
            pos = (
                pdf["pos"].to_numpy()  # object array of per-posting arrays
                if pre_aggregated
                else pdf["pos"].to_numpy().astype(np.int64)
            )
        else:
            pos = None
        rows = []
        for s, e in zip(starts, ends):
            if pre_aggregated:
                u, tf, dl_u = doc_ids[s:e], tfs[s:e], dls[s:e]
                positions = (
                    np.concatenate(
                        [np.asarray(x, dtype=np.int64) for x in pos[s:e]]
                    )
                    if pos is not None and e > s
                    else None
                )
            else:
                u, tf, dl_u = _runlength_tf(doc_ids[s:e], dls[s:e])
                positions = pos[s:e] if pos is not None else None
            rows.append(
                _encode_arrays(
                    terms[s], int(segs[s]), u, tf, dl_u,
                    k1, b, avgdl, block_size, False,
                    positions=positions,
                )
            )
        return pd.DataFrame(rows)

    frags: list[pd.DataFrame] = []
    frag_rows = 0
    for pdf in batches:
        if len(pdf) == 0:
            continue
        frags.append(pdf)
        frag_rows += len(pdf)
        if frag_rows < TARGET:
            continue
        merged = pd.concat(frags, ignore_index=True) if len(frags) > 1 else frags[0]
        terms = merged["term"].to_numpy()
        # hold back the final term: it may continue in the next batch
        cut = int(np.searchsorted(terms, terms[-1], side="left"))
        if cut > 0:
            yield encode_frame(merged.iloc[:cut])
            tail = merged.iloc[cut:].reset_index(drop=True)
            frags, frag_rows = ([tail], len(tail)) if len(tail) else ([], 0)
        else:
            frags, frag_rows = [merged], len(merged)
    if frags:
        merged = pd.concat(frags, ignore_index=True) if len(frags) > 1 else frags[0]
        if len(merged):
            yield encode_frame(merged)


def _encode_pdf(
    pdf: pd.DataFrame, k1: float, b: float, avgdl: float, block_size: int,
    is_head: bool, with_positions: bool = False,
) -> pd.DataFrame:
    """Encode one term group (columns doc_id, tf, dl[, pos]) into a segment
    row. `pos` (when with_positions) is a per-posting ascending array of
    token positions; the flat positional stream follows doc_id order."""
    term = pdf["term"].iloc[0]
    seg = int(pdf["seg"].iloc[0])
    order = np.argsort(pdf["doc_id"].to_numpy(), kind="stable")
    doc_ids = pdf["doc_id"].to_numpy()[order].astype(np.int64)
    tfs = pdf["tf"].to_numpy()[order].astype(np.int64)
    dls = pdf["dl"].to_numpy()[order].astype(np.int64)
    positions = None
    if with_positions and "pos" in pdf.columns:
        pos_lists = pdf["pos"].to_numpy()[order]
        positions = (
            np.concatenate([np.asarray(x, dtype=np.int64) for x in pos_lists])
            if len(pos_lists)
            else np.empty(0, dtype=np.int64)
        )
    enc = _encode_arrays(
        term, seg, doc_ids, tfs, dls, k1, b, avgdl, block_size, is_head,
        positions=positions,
    )
    return pd.DataFrame([enc])


@dataclass
class BuildResult:
    index_dir: str
    n_docs: int
    total_tokens: int
    resumed: bool
    segments_built: list[int]
    timings: dict[str, float] | None = None


class IndexBuilder:
    def __init__(
        self,
        index_dir: str,
        params: BM25Params | None = None,
        num_segments: int = DEFAULT_NUM_SEGMENTS,
        block_size: int = BLOCK_SIZE,
        head_df_threshold: int = HEAD_TERM_DF_THRESHOLD,
        head_salts: int = HEAD_TERM_SALTS,
        analyzer: str = "simple",
        quarantine: bool = True,
        with_positions: bool = False,
        store_text: bool = False,
    ):
        self.index_dir = index_dir
        self.analyzer = analyzer
        self.quarantine = quarantine
        self.with_positions = with_positions
        # store_text keeps the raw text in the docmap so the SERVING path can
        # return ts_headline-style highlights without touching the source
        # table (reference: search response carries headlines,
        # /root/reference/api/queries/search_queries.py:144). Off by default:
        # it roughly doubles docmap size; at warehouse scale the text lives
        # in the source table and SearchService accepts a text_lookup instead.
        self.store_text = store_text
        self.params = params or BM25Params()
        self.num_segments = num_segments
        self.block_size = block_size
        self.head_df_threshold = head_df_threshold
        self.head_salts = head_salts
        self.manifest = Manifest(index_dir)

    # paths ---------------------------------------------------------------
    @property
    def docs_dir(self) -> str:
        return os.path.join(self.index_dir, "docs")

    @property
    def segments_dir(self) -> str:
        return os.path.join(self.index_dir, "segments")

    @property
    def _segments_tmp(self) -> str:
        return os.path.join(self.index_dir, "segments__tmp")

    def seg_dir(self, seg: int) -> str:
        return os.path.join(self.segments_dir, f"seg={seg}")

    @property
    def quarantine_dir(self) -> str:
        return os.path.join(self.index_dir, "quarantine")

    # stage 1 ---------------------------------------------------------------
    def _build_docs(self, transcripts: DataFrame) -> dict[str, Any]:
        """docID assignment + tokenize + docmap/quarantine write.

        Quarantine (null/duplicate keys → the reference's DLQ pattern,
        /root/reference/tableinator/tableinator.py:1132-1137) is FUSED into
        the docID range-sort (index/docids.py): detection is a
        partition-local run check on the already-sorted stream and the split
        is a single partitionBy('_q') write — no extra shuffle or scan over
        the corpus. The quarantine table keeps the row's key + reason (the
        scalable pointer-back-to-source DLQ shape; the source table holds
        the payload)."""
        n_null = n_dup = 0
        spark = transcripts.sparkSession
        if self.quarantine:
            staged = os.path.join(self.index_dir, "docs_staged__tmp")
            if os.path.isdir(staged):
                shutil.rmtree(staged)
            with doc_ids_assigned(
                transcripts, with_tokens=True, analyzer=self.analyzer,
                quarantine=True, keep_text=self.store_text,
            ) as out:
                (
                    out.withColumn("_q", F.col("doc_id") < 0)
                    .write.mode("overwrite")
                    .option("parquet.block.size", str(1024 * 1024))
                    .partitionBy("_q")
                    .parquet(staged)
                )
            docs_part = os.path.join(staged, "_q=false")
            quar_part = os.path.join(staged, "_q=true")
            if os.path.isdir(self.docs_dir):
                shutil.rmtree(self.docs_dir)
            if os.path.isdir(docs_part):
                os.replace(docs_part, self.docs_dir)
            else:
                os.makedirs(self.docs_dir, exist_ok=True)
            if os.path.isdir(self.quarantine_dir):
                shutil.rmtree(self.quarantine_dir)
            if os.path.isdir(quar_part):
                os.replace(quar_part, self.quarantine_dir)
                qc = {
                    r["_quarantine_reason"]: r["n"]
                    for r in spark.read.parquet(self.quarantine_dir)
                    .groupBy("_quarantine_reason")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                n_null = int(qc.get("null_key", 0))
                n_dup = int(qc.get("dup_key", 0))
            shutil.rmtree(staged, ignore_errors=True)
        else:
            sel = ["doc_id", "conv_id", "turn_idx", "dl", "tokens"] + (
                ["text"] if self.store_text else []
            )
            tmp = self.docs_dir + "__tmp"
            with doc_ids_assigned(
                transcripts, with_tokens=True, analyzer=self.analyzer,
                keep_text=self.store_text,
            ) as docs:
                # small row groups: the docmap doubles as the doc store for
                # point lookups (more-like-this source tokens); a 1 MB row
                # group bounds the per-lookup decode at ~20 ms vs ~440 ms
                # with the 128 MB default at 12M docs, while full-scan init
                # reads are unaffected
                docs.select(*sel).write.mode("overwrite").option(
                    "parquet.block.size", str(1024 * 1024)
                ).parquet(tmp)
            if os.path.isdir(self.docs_dir):
                shutil.rmtree(self.docs_dir)
            os.replace(tmp, self.docs_dir)

        agg = (
            spark.read.parquet(self.docs_dir)
            .agg(
                F.count("*").alias("n_docs"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("total_tokens"),
            )
            .collect()[0]
        )
        stats = {
            "n_docs": int(agg["n_docs"]),
            "total_tokens": int(agg["total_tokens"]),
            "num_segments": self.num_segments,
            "block_size": self.block_size,
            "k1": self.params.k1,
            "b": self.params.b,
            "head_df_threshold": self.head_df_threshold,
            "head_salts": self.head_salts,
            "analyzer": TOKEN_PATTERN,
            "analyzer_name": self.analyzer,
            "n_quarantined_null_key": n_null,
            "n_quarantined_dup_key": n_dup,
            "with_positions": self.with_positions,
            "store_text": self.store_text,
        }
        self.manifest.commit_docs(stats)
        return stats

    # stage 2 ---------------------------------------------------------------
    def _build_segments(
        self, spark: SparkSession, stats: dict[str, Any], pending: list[int]
    ) -> None:
        n_docs = int(stats["n_docs"])
        avgdl = stats["total_tokens"] / n_docs if n_docs else 1.0
        k1, b = self.params.k1, self.params.b
        block_size = self.block_size

        docs = spark.read.parquet(self.docs_dir)
        # MAP-SIDE PAIR AGGREGATION (optimization guide §2.3 "aggregate
        # before you shuffle"): a document's tokens all live in one row, so
        # per-(doc, term) tf — and the per-pair position array when
        # with_positions — is computable inside the scan task with no
        # cross-partition concern. One vectorized pandas pass replaces the
        # former JVM explode (which ran three times: head-count aggregate,
        # head semi-join branch, normal anti-join branch) and every shuffle
        # downstream now moves one row per (doc, term) PAIR instead of one
        # per token occurrence (12.4M vs 19.5M at the bench corpus; the
        # ratio improves with tf). Encoders consume the pre_aggregated path
        # (the compaction codepath), skipping run-length.
        with_pos = self.with_positions
        tokens = (
            docs.select("doc_id", "dl", "tokens")
            .mapInPandas(_pair_rows_fn(with_pos), schema=pair_schema(with_pos))
            .withColumn(
                "seg",
                (F.crc32(F.col("term")) % F.lit(self.num_segments)).cast("int"),
            )
            .filter(F.col("seg").isin(pending))
        )

        # The pair stream still feeds three consumers; persist it in the
        # columnar cache when it fits (the head-count aggregate below
        # materializes it, the branches scan the cache, unpersisted right
        # after the segment write). Bounded by token count, NOT tuned to
        # this VM: ~30 B/pair ⇒ 400M tokens ≈ 12 GB spillable cache; past
        # that re-scanning compressed parquet is the better trade, which is
        # exactly the uncached plan.
        cache_tokens = int(stats["total_tokens"]) <= 400_000_000
        if cache_tokens:
            from pyspark import StorageLevel

            tokens = tokens.persist(StorageLevel.MEMORY_AND_DISK)

        # head-term detection on collection frequency (map-side combined agg
        # → tiny shuffle; cf = sum of pair tfs, identical to the former
        # occurrence count). CF ≥ DF, so thresholding CF salts a superset of
        # the df-threshold terms — salting is a lossless safety valve, and
        # exact DF still lands in each encoded row.
        head_rows = (
            tokens.groupBy("term")
            .agg(F.sum("tf").alias("cf"))
            .filter(F.col("cf") > self.head_df_threshold)
            .select("term")
            .collect()
        )
        head_terms = sorted(r["term"] for r in head_rows)

        normal = tokens
        branches: list[DataFrame] = []
        if head_terms:
            salt_width = max(1, -(-n_docs // self.head_salts))  # ceil div
            # broadcast semi/anti-join, NOT isin(head_terms): an IN-list
            # literal embeds the whole head set in the plan string (twice),
            # so a loosened cf threshold could blow up plan compilation; the
            # broadcast relation scales to any head-set size the driver can
            # hold and keeps the split a hash probe per row either way
            head_df = F.broadcast(
                spark.createDataFrame([(t,) for t in head_terms], "term string")
            )
            head = tokens.join(head_df, "term", "left_semi").withColumn(
                "salt", (F.col("doc_id") / F.lit(salt_width)).cast("int")
            )

            def encode_partial(pdf: pd.DataFrame) -> pd.DataFrame:
                # pre-aggregated pair rows: one per (doc, term), tf computed
                # map-side, positions already an ascending per-pair array
                doc_arr = pdf["doc_id"].to_numpy().astype(np.int64)
                order = np.argsort(doc_arr, kind="stable")
                if with_pos:
                    pos_lists = pdf["pos"].to_numpy()[order]
                    pos_bytes = (
                        np.concatenate(
                            [np.asarray(x, dtype=np.int64) for x in pos_lists]
                        ).tobytes()
                        if len(pos_lists)
                        else b""
                    )
                else:
                    pos_bytes = b""
                return pd.DataFrame(
                    [
                        {
                            "term": pdf["term"].iloc[0],
                            "seg": int(pdf["seg"].iloc[0]),
                            "salt": int(pdf["salt"].iloc[0]),
                            "doc_bytes": doc_arr[order].tobytes(),
                            "tf_bytes": pdf["tf"].to_numpy()[order]
                            .astype(np.int64)
                            .tobytes(),
                            "dl_bytes": pdf["dl"].to_numpy()[order]
                            .astype(np.int64)
                            .tobytes(),
                            "pos_bytes": pos_bytes,
                        }
                    ]
                )

            def merge_partials(pdf: pd.DataFrame) -> pd.DataFrame:
                # salts are contiguous docID ranges → concat in salt order IS
                # the sorted merge (loss-free, order-stable; flat positions
                # stay grouped per doc because salts partition docID ranges).
                pdf = pdf.sort_values("salt")
                doc_ids = np.concatenate(
                    [np.frombuffer(x, dtype=np.int64) for x in pdf["doc_bytes"]]
                )
                tfs = np.concatenate(
                    [np.frombuffer(x, dtype=np.int64) for x in pdf["tf_bytes"]]
                )
                dls = np.concatenate(
                    [np.frombuffer(x, dtype=np.int64) for x in pdf["dl_bytes"]]
                )
                positions = (
                    np.concatenate(
                        [np.frombuffer(x, dtype=np.int64) for x in pdf["pos_bytes"]]
                    )
                    if with_pos
                    else None
                )
                enc = _encode_arrays(
                    pdf["term"].iloc[0],
                    int(pdf["seg"].iloc[0]),
                    doc_ids,
                    tfs,
                    dls,
                    k1,
                    b,
                    avgdl,
                    block_size,
                    True,
                    positions=positions,
                )
                return pd.DataFrame([enc])

            head_encoded = (
                head.groupBy("seg", "term", "salt")
                .applyInPandas(encode_partial, schema=PARTIAL_SCHEMA)
                .groupBy("seg", "term")
                .applyInPandas(merge_partials, schema=SEGMENT_SCHEMA)
            )
            branches.append(head_encoded)
            normal = tokens.join(head_df, "term", "left_anti")

        # normal terms: term-hash repartition + in-partition sort, then a
        # streaming mapInPandas encoder (one Arrow exchange per partition,
        # not per term — see _encode_sorted_stream). Rows are pre-aggregated
        # pairs, so the encoder takes the pre_aggregated (compaction) path.
        shuffle_p = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        normal_encoded = (
            normal.repartition(shuffle_p, "term")
            .sortWithinPartitions("term", "doc_id")
            .mapInPandas(
                lambda it: _encode_sorted_stream(
                    it, k1, b, avgdl, block_size, with_positions=with_pos,
                    pre_aggregated=True,
                ),
                schema=SEGMENT_SCHEMA,
            )
        )
        branches.append(normal_encoded)
        encoded = branches[0]
        for br in branches[1:]:
            encoded = encoded.unionByName(br)

        tmp = self._segments_tmp
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        (
            # sort by (seg, term): the partitionBy writer requires seg order
            # and would otherwise insert its own UNSTABLE sort on seg,
            # destroying the term order the serving-path dictionary needs
            encoded.repartition(max(len(pending), 1), "seg")
            .sortWithinPartitions("seg", "term")
            .write.mode("overwrite")
            .partitionBy("seg")
            # small row groups: the serving path reads one row group per term
            # lookup (term-sorted files + in-memory term dictionary), so row
            # group size is the unit of query-time I/O
            .option("parquet.block.size", str(256 * 1024))
            .parquet(tmp)
        )
        if cache_tokens:
            tokens.unpersist()

    def _promote_segments(
        self, spark: SparkSession, pending: list[int], fail_after: int | None
    ) -> list[int]:
        # per-segment metrics in ONE job over the staged output (lineage
        # records — the FileProcessingStatus analog)
        metrics: dict[int, SegmentRecord] = {}
        if any(
            os.path.isdir(os.path.join(self._segments_tmp, f"seg={s}"))
            for s in pending
        ):
            rows = (
                spark.read.option("basePath", self._segments_tmp)
                .parquet(self._segments_tmp)
                .groupBy("seg")
                .agg(
                    F.count("*").alias("terms"),
                    F.coalesce(F.sum("df"), F.lit(0)).alias("postings"),
                    F.coalesce(F.sum(F.length("doc_blob")), F.lit(0)).alias("db"),
                    F.coalesce(F.sum(F.length("tf_blob")), F.lit(0)).alias("tb"),
                    F.coalesce(F.sum(F.length("dl_blob")), F.lit(0)).alias("lb"),
                    F.coalesce(
                        F.sum(F.when(F.col("is_head"), 1).otherwise(0)), F.lit(0)
                    ).alias("heads"),
                )
                .collect()
            )
            for m in rows:
                metrics[int(m["seg"])] = SegmentRecord(
                    segment=int(m["seg"]),
                    terms=int(m["terms"]),
                    postings=int(m["postings"]),
                    doc_blob_bytes=int(m["db"]),
                    tf_blob_bytes=int(m["tb"]),
                    dl_blob_bytes=int(m["lb"]),
                    head_terms=int(m["heads"]),
                )

        promoted: list[int] = []
        os.makedirs(self.segments_dir, exist_ok=True)
        for i, seg in enumerate(sorted(pending)):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(
                    f"injected failure after {fail_after} segment promotions"
                )
            src = os.path.join(self._segments_tmp, f"seg={seg}")
            dst = self.seg_dir(seg)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            if os.path.isdir(src):
                os.replace(src, dst)
            else:
                os.makedirs(dst, exist_ok=True)  # segment with zero terms
            self.manifest.commit_segment(metrics.get(seg, SegmentRecord(seg, 0, 0, 0, 0, 0, 0)))
            promoted.append(seg)
        return promoted

    # entry ------------------------------------------------------------------
    def build(
        self,
        transcripts: DataFrame,
        fail_after_segments: int | None = None,
    ) -> BuildResult:
        import time as _time

        spark = transcripts.sparkSession
        timings: dict[str, float] = {}
        resumed = False
        stats = self.manifest.docs()
        if stats is None:
            t0 = _time.time()
            stats = self._build_docs(transcripts)
            timings["docs_sec"] = round(_time.time() - t0, 2)
        else:
            resumed = True

        if self.manifest.is_complete():
            return BuildResult(
                self.index_dir, stats["n_docs"], stats["total_tokens"], True, [], timings
            )

        pending = self.manifest.pending_segments(self.num_segments)
        promoted: list[int] = []
        if pending:
            t0 = _time.time()
            self._build_segments(spark, stats, pending)
            timings["segments_sec"] = round(_time.time() - t0, 2)
            t0 = _time.time()
            promoted = self._promote_segments(spark, pending, fail_after_segments)
            timings["promote_sec"] = round(_time.time() - t0, 2)
        if os.path.isdir(self._segments_tmp):
            shutil.rmtree(self._segments_tmp)
        self.manifest.commit_success(
            {"n_docs": stats["n_docs"], "num_segments": self.num_segments}
        )
        return BuildResult(
            self.index_dir,
            stats["n_docs"],
            stats["total_tokens"],
            resumed,
            promoted,
            timings,
        )
