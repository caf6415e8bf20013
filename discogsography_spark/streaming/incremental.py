"""Incremental / streaming index maintenance.

The reference is a long-running message-driven pipeline: extractor publishes
batches, consumers upsert incrementally with hash-gated writes and
completion-protocol control messages (SURVEY.md §2.9;
/root/reference/extractor/src/extractor.rs:633-705,
/root/reference/tableinator/batch_processor.py:151-215). The Spark-native
restatement is Structured Streaming `foreachBatch` writing **delta segments**:

- every micro-batch becomes an immutable delta directory
  (deltas/delta-%06d/) holding its own term→postings parquet + stats JSON,
  committed atomically tmp+rename AFTER the data is durable (send-then-commit,
  /root/reference/extractor/src/extractor.rs:584-600);
- delta docIDs continue the global dense sequence: offset = base + prior
  deltas (recorded in each delta's manifest — exactly-once via batch_id
  idempotence: a re-delivered batch_id is skipped, the foreachBatch contract);
- queries merge base + delta posting lists at lookup time (doc ranges are
  disjoint and ascending, so the merge is concatenation) and score with
  COMBINED corpus stats — equivalent to a full rebuild over the union corpus
  (tested rank-identical vs the oracle);
- `compact()` folds deltas into the base segments: per (seg, term) group,
  concatenate postings in docID order and re-encode — a real segment merge,
  not a rebuild.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from discogsography_spark.codec import decode_postings, varbyte_decode
from discogsography_spark.index.builder import (
    _encode_sorted_stream,
    SEGMENT_SCHEMA,
    _encode_pdf,
    term_segment,
)
from discogsography_spark.index.manifest import Manifest, _atomic_write_json
from discogsography_spark.params import BLOCK_SIZE, BM25Params
from discogsography_spark.query.engine import (
    IndexMeta,
    LocalSearcher,
    _after_mask,
)


def _deltas_root(index_dir: str) -> str:
    return os.path.join(index_dir, "deltas")


def list_deltas(index_dir: str) -> list[str]:
    """Committed deltas, excluding any already folded by a compact() whose
    swap is still in flight (named in the compact commit marker) — readers
    must never count a delta AND the staged base that contains it."""
    root = _deltas_root(index_dir)
    if not os.path.isdir(root):
        return []
    folded: set[str] = set()
    marker = _compact_marker_path(index_dir)
    if os.path.exists(marker):
        with open(marker) as f:
            folded = set(json.load(f)["folded"])
    committed = []
    replaced: set[str] = set()
    for name in sorted(os.listdir(root)):
        d = os.path.join(root, name)
        sp = os.path.join(d, "stats.json")
        if (
            name.startswith("delta-")
            and name not in folded
            and os.path.exists(sp)
        ):
            committed.append((name, d))
            # a committed CONSOLIDATED delta (consolidate_deltas) names the
            # dirs it folded; readers must never count both — the same
            # exclusion rule as the compact marker, carried in-band
            with open(sp) as f:
                replaced.update(json.load(f).get("replaces", []))
    return [d for name, d in committed if name not in replaced]


def _seen_batch_ids(index_dir: str) -> set[int]:
    """Every batch_id already applied to this index — own delta dirs plus
    the `folded_batch_ids` a consolidated delta carries for the dirs it
    replaced (consolidate_deltas). The exactly-once contract must survive
    minor compaction: a re-delivered folded batch is a no-op."""
    seen: set[int] = set()
    for d in list_deltas(index_dir):
        with open(os.path.join(d, "stats.json")) as f:
            s = json.load(f)
        if s.get("batch_id") is not None:
            seen.add(int(s["batch_id"]))
        seen.update(int(x) for x in s.get("folded_batch_ids", []))
    return seen


def _parquet_nrows(path: str) -> int:
    """Row count of a Spark-written parquet directory, tolerant of the
    zero-part-file shape an empty result can produce."""
    import glob as _glob

    files = _glob.glob(os.path.join(path, "*.parquet"))
    return sum(len(pd.read_parquet(f)) for f in files) if files else 0


def _combined_offsets(index_dir: str) -> tuple[int, int]:
    """(next_doc_id, combined_total_tokens) across base + committed deltas."""
    meta = IndexMeta(index_dir)
    n, tt = meta.n_docs, meta.total_tokens
    for d in list_deltas(index_dir):
        with open(os.path.join(d, "stats.json")) as f:
            s = json.load(f)
        n += int(s["n_docs"])
        tt += int(s["total_tokens"])
    return n, tt


class DeltaIndexWriter:
    """foreachBatch sink: call `write_batch(df, batch_id)` from
    `stream.writeStream.foreachBatch(writer.write_batch)`."""

    def __init__(self, index_dir: str, block_size: int = 128):
        recover_compact(index_dir)  # finish any crashed compact swap first
        self.index_dir = index_dir
        self.block_size = block_size
        self.meta = IndexMeta(index_dir)

    def _delta_dir(self, batch_id: int) -> str:
        return os.path.join(_deltas_root(self.index_dir), f"delta-{batch_id:06d}")

    def _prior_versions(self, keys_df: DataFrame) -> DataFrame:
        """(doc_id, dl) of every already-indexed document version whose key
        matches a row of `keys_df` — base docmap + committed delta docmaps.
        Keys join on the intersection of (conv_id, turn_idx) with
        `keys_df`'s columns, so a conv_id-only frame deletes whole
        conversations. The batch-key side broadcasts (micro-batch-sized);
        the docmap side is a column-pruned parquet scan — the columnar
        analog of the reference's per-row PG key lookup
        (tableinator/batch_processor.py upsert SELECT-by-id). At 10^12
        docs you would bucket the docmap by conv_id hash so the scan
        prunes to matching buckets; the join shape is unchanged."""
        cols = [c for c in ("conv_id", "turn_idx") if c in keys_df.columns]
        if not cols:
            raise ValueError(
                "keys_df must carry conv_id (and optionally turn_idx)"
            )
        spark = keys_df.sparkSession
        paths = [os.path.join(self.index_dir, "docs")] + [
            os.path.join(d, "docs")
            for d in list_deltas(self.index_dir)
            if os.path.isdir(os.path.join(d, "docs"))
        ]
        from functools import reduce

        # select the key columns per docmap BEFORE unioning: payload
        # columns may differ across base and deltas (schema AND type —
        # e.g. ts TIMESTAMP vs TIMESTAMP_NTZ), and only the key/slot
        # columns are needed here anyway
        frames = [
            spark.read.parquet(p)
            .select("conv_id", "turn_idx", "doc_id", "dl")
            .where(F.col("doc_id").isNotNull())  # quarantined rows hold no slot
            for p in paths
        ]
        existing = reduce(DataFrame.unionByName, frames)
        keys = keys_df.select(*cols).distinct()
        return existing.join(F.broadcast(keys), cols).select("doc_id", "dl")

    def write_deletes(self, keys_df: DataFrame, batch_id: int) -> int:
        """Delete documents by key — a tombstone-only delta. `keys_df`
        carries (conv_id, turn_idx) for turn-level deletes or just conv_id
        for whole-conversation deletes. Returns the number of document
        versions tombstoned. Idempotent per batch_id (the delta commit
        contract); dead docIDs keep their dense slot until compact()
        physically drops them and reassigns the id space — the reference's
        stale-row purge (SURVEY §2.1 row 8) in LSM form."""
        final = self._delta_dir(batch_id)
        if os.path.exists(os.path.join(final, "stats.json")):
            return 0  # idempotent re-delivery
        if batch_id in _seen_batch_ids(self.index_dir):
            return 0  # folded by consolidate_deltas — still delivered once
        doc_offset, _tt = _combined_offsets(self.index_dir)
        tomb = self._prior_versions(keys_df)
        tmp = final + "__tmp"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp, exist_ok=True)
        tomb.write.mode("overwrite").parquet(
            os.path.join(tmp, "tombstones.parquet")
        )
        n_dead = _parquet_nrows(os.path.join(tmp, "tombstones.parquet"))
        if n_dead == 0:
            shutil.rmtree(os.path.join(tmp, "tombstones.parquet"))
        os.makedirs(_deltas_root(self.index_dir), exist_ok=True)
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.replace(tmp, final)
        _atomic_write_json(
            os.path.join(final, "stats.json"),
            {
                "n_docs": 0,
                "total_tokens": 0,
                "doc_offset": doc_offset,
                "batch_id": batch_id,
                "n_tombstoned": n_dead,
            },
        )
        return n_dead

    def write_batch(
        self, batch_df: DataFrame, batch_id: int, upsert: bool = False
    ) -> None:
        final = self._delta_dir(batch_id)
        if os.path.exists(os.path.join(final, "stats.json")):
            return  # idempotent re-delivery (exactly-once via batch_id)
        if batch_id in _seen_batch_ids(self.index_dir):
            return  # folded by consolidate_deltas — still delivered once

        doc_offset, base_tt = _combined_offsets(self.index_dir)
        k1, b = self.meta.params.k1, self.meta.params.b
        block_size = self.block_size
        num_segments = self.meta.num_segments

        # batch-local dense docIDs continuing the global sequence — the SAME
        # distributed two-pass range-sort the builder uses (index/docids.py),
        # offset by the docs already indexed. Tokenize rides the same Arrow
        # pass (with_tokens=True); nothing is materialized on the driver.
        # NOTE: delta docIDs are dense in (conv_id, turn_idx) order WITHIN
        # the batch but continue the sequence in batch ARRIVAL order; a
        # micro-batch whose conv_ids sort before already-indexed docs makes
        # the live merged view diverge from a fresh rebuild's tiebreak order.
        # compact() repairs this: it reassigns the global dense rank over the
        # union corpus, so the compacted index matches a fresh build.
        from pyspark import StorageLevel

        from discogsography_spark.index.docids import doc_ids_assigned

        # null-key rows can't take a rank (same contract as the builder's
        # quarantine); they are dropped here with a count in the delta stats
        # — per-turn exactly-once across batches is the upstream foreachBatch
        # contract, so cross-batch duplicate keys are the producer's bug.
        # ALL batch columns ride into the delta docmap (the base builder's
        # quarantine path keeps them too) so the merged serving view can
        # factorize facets — and text, when the base stores it, so merged
        # highlighting works without a source-table lookup.
        src = batch_df
        clean = src.filter(
            F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
        )
        store_text = bool(self.meta.stats.get("store_text"))
        # `docs` is this batch's own persisted copy; the aggregate below
        # materializes it, after which nothing reads the range-sorted
        # input doc_ids_assigned holds, so it is released right there
        with doc_ids_assigned(
            clean,
            with_tokens=True,
            analyzer=self.meta.analyzer,
            keep_text=store_text,
        ) as ids:
            docs = ids.withColumn(
                "doc_id", (F.col("doc_id") + F.lit(doc_offset)).cast("long")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            agg = docs.agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("tt"),
            ).collect()[0]
        n_new, total_tokens = int(agg["n"]), int(agg["tt"])
        n_dropped = int(src.count()) - n_new
        if n_new == 0:
            docs.unpersist()
            os.makedirs(final, exist_ok=True)
            _atomic_write_json(
                os.path.join(final, "stats.json"),
                {
                    "n_docs": 0,
                    "total_tokens": 0,
                    "doc_offset": doc_offset,
                    "n_quarantined_null_key": n_dropped,
                },
            )
            return
        # avgdl in the delta's tfnorm must be the COMBINED corpus avgdl at
        # query time — unknowable ahead of future batches. Store raw blobs;
        # block_max_tfnorm here uses the current combined avgdl and is only a
        # pruning hint for merged queries (exact scoring re-derives tfnorm
        # from tf+dl, so correctness never depends on it).
        n_after = doc_offset + n_new
        avgdl_hint = (base_tt + total_tokens) / n_after if n_after else 1.0

        # positional parity with the base: a phrase-capable index must keep
        # its positions through streaming appends, or compact() would have
        # nothing to merge and phrase queries would silently degrade
        wp = bool(self.meta.stats.get("with_positions", False))

        # round-7: same shape as the segment build — map-side (doc, term)
        # pair aggregation inside the scan task (no explode→groupBy
        # shuffle), then ONE seg-keyed repartition + in-partition
        # (seg, term, doc) sort feeding the streaming encoder. This
        # replaces the former per-TERM applyInPandas (one pandas group per
        # vocabulary term — O(vocab) Arrow framing per micro-batch, the
        # exact overhead the builder's docstring warns about) with one
        # Arrow exchange per partition, and writes ONE term-sorted file
        # per touched segment instead of a file per (task, seg).
        from discogsography_spark.index.builder import (
            _pair_rows_fn,
            pair_schema,
        )

        grouped = docs.select("doc_id", "dl", "tokens").mapInPandas(
            _pair_rows_fn(wp), schema=pair_schema(wp)
        )
        encoded = (
            grouped.withColumn(
                "seg", (F.crc32(F.col("term")) % F.lit(num_segments)).cast("int")
            )
            .repartition(num_segments, "seg")
            .sortWithinPartitions("seg", "term", "doc_id")
            .mapInPandas(
                lambda it: _encode_sorted_stream(
                    it, k1, b, avgdl_hint, block_size,
                    with_positions=wp, pre_aggregated=True,
                ),
                schema=SEGMENT_SCHEMA,
            )
        )

        tmp = final + "__tmp"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        encoded.write.mode("overwrite").partitionBy("seg").parquet(
            os.path.join(tmp, "segments")
        )
        docs.drop("tokens").write.mode("overwrite").option(
            "parquet.block.size", str(1024 * 1024)
        ).parquet(os.path.join(tmp, "docs"))
        n_tombstoned = 0
        if upsert:
            # tombstone every prior version of this batch's keys (upsert
            # semantics: latest write wins, like the reference's PG
            # conditional upsert). Rides the delta's atomic tmp+rename
            # commit, so batch_id idempotence covers the tombstones too.
            tomb_path = os.path.join(tmp, "tombstones.parquet")
            self._prior_versions(clean).write.mode("overwrite").parquet(
                tomb_path
            )
            n_tombstoned = _parquet_nrows(tomb_path)
            if n_tombstoned == 0:
                shutil.rmtree(tomb_path)  # pure-insert batch: no marker
        docs.unpersist()
        os.makedirs(_deltas_root(self.index_dir), exist_ok=True)
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.replace(tmp, final)
        # commit marker LAST (send-then-commit)
        _atomic_write_json(
            os.path.join(final, "stats.json"),
            {
                "n_docs": n_new,
                "total_tokens": total_tokens,
                "doc_offset": doc_offset,
                "batch_id": batch_id,
                "n_quarantined_null_key": n_dropped,
                "n_tombstoned": n_tombstoned,
            },
        )


def live_docs_df(
    spark: SparkSession, index_dir: str, columns: list[str] | None = None
) -> DataFrame:
    """The ALIVE latest-version corpus as a DataFrame — the bridge from
    the serving index back to DataFrame analytics over a mutating corpus
    (the reference's API reads the same continuously-upserted tables its
    batch pipeline writes).

    base docmap + every committed delta docmap (delta docIDs are already
    globally offset), minus tombstoned doc_ids via a broadcast anti-join
    (the tombstone set is small relative to the corpus and bounded by
    compaction cadence) and minus quarantined rows. Delta columns coerce
    to the base docmap's types (micro-batches written straight from
    createDataFrame(pandas) carry TIMESTAMP_NTZ where the base stores
    TIMESTAMP). At 100 TB this is a multi-directory parquet scan with
    column pruning — select only what the analytics plan needs via
    `columns`."""
    base = spark.read.parquet(os.path.join(index_dir, "docs"))
    want = columns if columns is not None else [
        c for c in base.columns if c != "_quarantine_reason"
    ]
    if "doc_id" not in want:
        want = ["doc_id", *want]
    types = {f.name: f.dataType for f in base.schema.fields}
    frames = [base.select(*want)]
    tombs = []
    for d in list_deltas(index_dir):
        p = os.path.join(d, "docs")
        if os.path.isdir(p):
            df = spark.read.parquet(p)
            frames.append(
                df.select(
                    *[F.col(c).cast(types[c]).alias(c) for c in want]
                )
            )
        tp = os.path.join(d, "tombstones.parquet")
        if os.path.exists(tp):
            tombs.append(
                spark.read.parquet(tp).select("doc_id")
            )
    from functools import reduce

    out = reduce(DataFrame.unionByName, frames).where(
        F.col("doc_id").isNotNull()
    )
    if tombs:
        dead = reduce(DataFrame.unionByName, tombs).distinct()
        out = out.join(F.broadcast(dead), "doc_id", "left_anti")
    return out


class ShardedDeltaRouter:
    """Ingestion half of the LIVE sharded tier: route each micro-batch's
    rows to the shard owning their conv_id range and commit one delta per
    NON-EMPTY shard. One aggregate pass decides which shards a batch
    touches, so untouched shards pay nothing (no empty delta dirs, no
    docmap scans). Each shard delta rides DeltaIndexWriter's atomic
    tmp+rename commit with per-(shard, batch_id) idempotence — a crashed
    foreachBatch replay recomputes the same routing and re-commits only
    the shards whose delta is missing.

    At 10^12 docs this is the per-node ingest RPC: the router plays the
    reference's AMQP consumer fan-out (SURVEY §2.1 row 4;
    extractors publish → tableinator consumes), bounds are layout
    metadata (the same consecutive conv-range split the build side
    uses), and an upsert's tombstone lookup touches only the owning
    shard's docmap instead of the whole corpus."""

    def __init__(
        self,
        shard_dirs: list[str],
        bounds: list[tuple[str | None, str | None]],
        consolidate_every: int | None = None,
    ):
        """`consolidate_every=N` runs MINOR compaction (consolidate_deltas)
        on a shard automatically whenever a write leaves its tail N or
        more deltas deep — the LSM tiering policy as a router knob, so a
        long-running stream keeps every shard's per-query tail cost
        bounded without an external compaction scheduler (full compact()
        stays a deliberate, rarer operation)."""
        if len(shard_dirs) != len(bounds):
            raise ValueError("one (lo, hi) bound pair per shard required")
        for i in range(len(bounds) - 1):
            if bounds[i][1] != bounds[i + 1][0]:
                raise ValueError(
                    "shard bounds must be contiguous: "
                    f"bounds[{i}].hi={bounds[i][1]!r} != "
                    f"bounds[{i + 1}].lo={bounds[i + 1][0]!r}"
                )
        if bounds[0][0] is not None or bounds[-1][1] is not None:
            raise ValueError(
                "outer bounds must be open (None) so every key routes"
            )
        self.writers = [DeltaIndexWriter(d) for d in shard_dirs]
        self.shard_dirs = list(shard_dirs)
        self.bounds = list(bounds)
        if consolidate_every is not None and consolidate_every < 2:
            raise ValueError("consolidate_every must be >= 2")
        self.consolidate_every = consolidate_every

    def _shard_slice(self, df: DataFrame, i: int) -> DataFrame:
        lo, hi = self.bounds[i]
        if lo is not None:
            df = df.filter(F.col("conv_id") >= lo)
        if hi is not None:
            df = df.filter(F.col("conv_id") < hi)
        return df

    def _touched(self, df: DataFrame) -> list[int]:
        """Shard indexes this frame touches — one count-by-range aggregate
        (ranges are contiguous, so the shard index is the number of lower
        bounds ≤ conv_id)."""
        expr = F.lit(0)
        for lo, _hi in self.bounds[1:]:
            expr = expr + F.when(
                F.col("conv_id") >= F.lit(lo), 1
            ).otherwise(0)
        rows = df.groupBy(expr.alias("_shard")).count().collect()
        return sorted(int(r["_shard"]) for r in rows)

    def _maybe_consolidate(self, spark, touched: list[int]) -> None:
        if self.consolidate_every is None:
            return
        for i in touched:
            if len(list_deltas(self.shard_dirs[i])) >= self.consolidate_every:
                consolidate_deltas(spark, self.shard_dirs[i])

    def write_batch(
        self, batch_df: DataFrame, batch_id: int, upsert: bool = False
    ) -> None:
        touched = self._touched(batch_df)
        for i in touched:
            self.writers[i].write_batch(
                self._shard_slice(batch_df, i), batch_id, upsert=upsert
            )
        self._maybe_consolidate(batch_df.sparkSession, touched)

    def write_deletes(self, keys_df: DataFrame, batch_id: int) -> int:
        n = 0
        touched = self._touched(keys_df)
        for i in touched:
            n += self.writers[i].write_deletes(
                self._shard_slice(keys_df, i), batch_id
            )
        self._maybe_consolidate(keys_df.sparkSession, touched)
        return n


def _exact_and_scores(
    terms: list[str],
    lists: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    idfs: dict[str, float],
    p,
    avgdl: float,
    k: int,
    after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Exact conjunctive BM25 over per-term (docs, tf, dl) arrays:
    rarest-list-driven intersection, fixed summation order over `terms` —
    the float-identical core shared by MergedSearcher.topk_exact and the
    delta-side leg of the fast topk."""
    by_df = sorted(terms, key=lambda t: (lists[t][0].size, t))
    cand, tf0, dl0 = lists[by_df[0]]
    tf_by_term = {by_df[0]: tf0}
    for t in by_df[1:]:
        d, tf, _dl = lists[t]
        pos = np.searchsorted(d, cand)
        ok = pos < d.size
        hit = np.zeros(cand.shape, dtype=bool)
        hit[ok] = d[pos[ok]] == cand[ok]
        cand, dl0 = cand[hit], dl0[hit]
        for tt in tf_by_term:
            tf_by_term[tt] = tf_by_term[tt][hit]
        tf_by_term[t] = tf[pos[hit]]
        if cand.size == 0:
            return []
    norm = p.k1 * (1.0 - p.b + p.b * (dl0.astype(np.float64) / avgdl))
    score = np.zeros(cand.shape, dtype=np.float64)
    for t in terms:  # fixed order — oracle-identical summation
        tf = tf_by_term[t].astype(np.float64)
        score = score + idfs[t] * (tf / (tf + norm))
    if after is not None:
        keep = _after_mask(cand, score, after)
        cand, score = cand[keep], score[keep]
    order = np.lexsort((cand, -score))[:k]
    return [(int(cand[i]), float(score[i])) for i in order]


def _exact_or_scores(
    terms: list[str],
    lists: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray] | None],
    idfs: dict[str, float],
    p,
    avgdl: float,
    k: int,
    after: tuple[float, int] | None = None,
) -> list[tuple[int, float]]:
    """Exact disjunctive BM25 over per-term (docs, tf, dl) arrays: union
    candidates, sorted-term probe/accumulate (absent term contributes
    nothing) — the OR counterpart of _exact_and_scores, shared by
    MergedSearcher._topk_or's delta leg and its tombstone fallback."""
    present = sorted(t for t in set(terms) if lists.get(t) is not None)
    if not present:
        return []
    arrs = [lists[t][0] for t in present]
    cand = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
    scores = np.zeros(cand.size, dtype=np.float64)
    for t in present:  # sorted order — fixed float64 summation order
        d, tf, dl = lists[t]
        pos = np.searchsorted(d, cand)
        ok = pos < d.size
        mask = np.zeros(cand.size, dtype=bool)
        mask[ok] = d[pos[ok]] == cand[ok]
        sel = pos[mask]
        tfv = tf[sel].astype(np.float64)
        norm = p.k1 * (
            1.0 - p.b + p.b * (dl[sel].astype(np.float64) / avgdl)
        )
        scores[mask] = scores[mask] + idfs[t] * (tfv / (tfv + norm))
    if after is not None:
        keep = _after_mask(cand, scores, after)
        cand, scores = cand[keep], scores[keep]
    order = np.lexsort((cand, -scores))[:k]
    return [(int(cand[i]), float(scores[i])) for i in order]


class MergedSearcher:
    """Exact BM25 top-k over base + deltas with combined corpus stats.

    Tombstones (deletes/upserts): any delta may carry a
    `tombstones.parquet` of (doc_id, dl) rows naming PRIOR document
    versions killed by that batch (written by DeltaIndexWriter upsert /
    write_deletes). Dead docIDs keep their slot in the dense ID space
    (holes until compact() reassigns), but are invisible to every query
    path — corpus stats (n_docs, avgdl), per-term df, matched sets,
    positions and scores all reflect the ALIVE corpus only, matching a
    fresh rebuild on the latest live documents (the reference's
    PostgreSQL upsert/stale-purge semantics, extractors/*/
    postgres_writer upsert + api stale-row views, re-expressed as an
    LSM-style tombstone layer)."""

    def __init__(self, index_dir: str):
        recover_compact(index_dir)  # reader-side repair of a crashed swap
        self.index_dir = index_dir
        self.base = LocalSearcher(index_dir)
        # per-query deadline — mirrors LocalSearcher.deadline(); entering
        # the context propagates to the base and every (lazily created)
        # promoted-leg searcher so one budget covers all legs of a query
        self._deadline: tuple[float, float] | None = None
        self.params: BM25Params = self.base.meta.params
        self._delta_dirs = list_deltas(index_dir)
        # id_space = next unassigned docID (dead docs keep their slots
        # until compact) — array sizing and key packing use THIS; scoring
        # stats below use the alive counts
        self.id_space, raw_tt = _combined_offsets(index_dir)
        self._dead, dead_dl = self._load_tombstones()
        self.n_docs = self.id_space - int(self._dead.size)
        self.total_tokens = raw_tt - dead_dl
        self.avgdl = self.total_tokens / self.n_docs if self.n_docs else 1.0
        self._delta_readers: dict[tuple, object] = {}
        # term → RAW merged (docs, tf, dl) arrays (dead postings included);
        # deltas are immutable for this searcher's lifetime, so merged
        # decodes cache like base decodes
        self._merged_cache: dict[str, tuple] = {}
        # term → RAW delta-side (docs, tf, flat positions, offsets) for
        # positional gathers (_merged_term_key_fn); base position streams
        # are never concatenated in — they decode block-granular on demand
        self._delta_pos_cache: dict[str, tuple | None] = {}
        self._small_pos_cache: dict[str, tuple | None] = {}
        # term → alive-only merged arrays (only populated when tombstones
        # exist; _merged_rows returns these so every query path sees the
        # alive corpus)
        self._merged_alive_cache: dict[str, tuple] = {}
        # term → concatenated DELTA-side (docs, tf, dl) (None if absent in
        # every delta) — lets repeat queries skip the per-delta parquet
        # row lookups entirely (the fast topk's p50 was 4.2 ms re-reading
        # them per query vs 0.6 ms cached)
        self._delta_list_cache: dict[str, tuple | None] = {}
        # tombstone fast-path memos: term → #dead postings in the BASE
        # list (alive df = raw df − this, no full-list masking), and
        # term → alive-masked delta arrays
        self._dead_df_cache: dict[str, int] = {}
        self._delta_alive_cache2: dict[str, tuple | None] = {}
        self._trigram_index = None  # built lazily by suggest_terms
        # PROMOTED deltas (consolidate_deltas writes a mini-manifest):
        # LocalSearcher legs with champion/block-max pruning over the
        # re-encoded consolidated segments — evaluated like a second base
        # in the no-tombstone fast paths instead of exact-scoring their
        # whole mass. Small (unpromoted) deltas keep the exact leg.
        self._leg_searchers: dict[str, LocalSearcher] = {}
        self._promoted_dirs: list[str] = []
        for d in self._delta_dirs:
            if Manifest(d).docs() is not None:
                self._promoted_dirs.append(d)
        self._small_dirs = [
            d for d in self._delta_dirs if d not in set(self._promoted_dirs)
        ]
        self._small_list_cache: dict[str, tuple | None] = {}
        self._small_alive_cache: dict[str, tuple | None] = {}
        self._leg_dead_cache: dict[tuple[str, str], int] = {}
        self._fingerprint_base = self._base_fingerprint()

    def _base_fingerprint(self) -> tuple:
        """Identity of the BASE index on disk — changes only when compact()
        swaps a rebuilt base in (the manifest's docs.json is rewritten
        atomically as part of the swap)."""
        mp = os.path.join(self.index_dir, "manifest", "docs.json")
        try:
            st = os.stat(mp)
            ident = (st.st_mtime_ns, st.st_size)
        except OSError:
            ident = None
        return (ident, self.base.meta.n_docs)

    def reopen(self) -> bool:
        """Refresh this searcher's snapshot of committed deltas — the
        long-lived serving node's view advance (the reference's consumers
        see each batch as it lands, tableinator/batch_processor.py:151-215;
        Lucene's SearcherManager.maybeRefresh). Returns True iff the view
        changed.

        Reader model: construction snapshots committed deltas; reopen()
        re-lists them and atomically swaps in a fresh view. Still-valid
        state carries over — the base LocalSearcher (with its warm decode/
        memo caches) when the base is untouched, per-delta segment readers
        and promoted-leg searchers for delta dirs that survived (keyed by
        dir; consolidation REPLACES dirs so a folded tail drops its
        entries). All term-keyed aggregate caches (merged/alive/delta-list/
        positional/dead-count memos) concatenate across the delta SET, so
        any change invalidates them wholesale — nothing from the old
        snapshot can be served stale. No change = no-op, every cache kept.
        Single-coordinator use, like every other method here (the
        worker-pool deployment reopens via one RPC per shard)."""
        same_base = self._base_fingerprint() == self._fingerprint_base
        new_deltas = list_deltas(self.index_dir)
        if same_base and new_deltas == self._delta_dirs:
            # tombstones live inside delta dirs, so an unchanged committed
            # delta list means an unchanged view
            return False
        fresh = MergedSearcher(self.index_dir)
        if same_base:
            fresh.base = self.base  # immutable — keep the warm caches
        for key, rd in self._delta_readers.items():
            if key[0] in fresh._delta_dirs and key not in fresh._delta_readers:
                fresh._delta_readers[key] = rd
        for d, ls in self._leg_searchers.items():
            if d in fresh._promoted_dirs:
                fresh._leg_searchers[d] = ls
        self.__dict__ = fresh.__dict__
        return True

    def _delta_rows(self, delta: str, terms: list[str]) -> dict[str, dict]:
        """Term rows from one delta via the same dictionary-indexed
        row-group reader the base uses (_SegmentReader) — a pyarrow
        dataset filter would read the segment's ENTIRE blob columns per
        lookup (the to_table(filter=) trap), turning a 2-term probe into a
        multi-second scan on a large delta."""
        out: dict[str, dict] = {}
        by_seg: dict[int, list[str]] = {}
        for t in terms:
            by_seg.setdefault(term_segment(t, self.base.meta.num_segments), []).append(t)
        for seg, seg_terms in by_seg.items():
            rd = self._delta_reader(delta, seg)
            if rd is None:
                continue
            for row in rd.lookup(sorted(seg_terms)):
                out[row["term"]] = row  # raw dict is enough for decode
        return out

    def _delta_reader(self, delta: str, seg: int):
        """Memoized _SegmentReader for one delta segment directory (None if
        the delta holds no files for that segment)."""
        from discogsography_spark.query.engine import _SegmentReader

        key = (delta, seg)
        if key not in self._delta_readers:
            d = os.path.join(delta, "segments", f"seg={seg}")
            files = (
                [
                    os.path.join(d, f)
                    for f in sorted(os.listdir(d))
                    if f.endswith(".parquet")
                ]
                if os.path.isdir(d)
                else []
            )
            self._delta_readers[key] = _SegmentReader(files) if files else None
        return self._delta_readers[key]

    def _merged_rows(
        self, terms: list[str]
    ) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray] | None]:
        """term → merged (docs, tf, dl) over base + deltas (None if absent
        everywhere). Arrays are docID-ascending: base docIDs precede delta
        ranges by construction."""
        todo = [t for t in terms if t not in self._merged_cache]
        base_rows = self.base.lookup_terms(todo)
        dlists = self._delta_lists(todo)

        for t in todo:
            parts_docs, parts_tf, parts_dl = [], [], []
            if t in base_rows:
                d, tf, dl = self.base._decoded(base_rows[t])
                parts_docs.append(d)
                parts_tf.append(tf)
                parts_dl.append(dl)
            if dlists[t] is not None:
                d, tf, dl = dlists[t]
                parts_docs.append(d)
                parts_tf.append(tf)
                parts_dl.append(dl)
            if not parts_docs:
                self._merged_cache[t] = None  # absent everywhere (negative)
                continue
            self._merged_cache[t] = (
                np.concatenate(parts_docs),
                np.concatenate(parts_tf),
                np.concatenate(parts_dl),
            )
        if not self._dead.size:
            return {t: self._merged_cache[t] for t in terms}
        # tombstones present: serve alive-only arrays (df = filtered size,
        # so idf/scoring/matched sets all reflect the live corpus)
        out: dict[str, tuple | None] = {}
        for t in terms:
            if t in self._merged_alive_cache:
                out[t] = self._merged_alive_cache[t]
                continue
            raw = self._merged_cache[t]
            if raw is None:
                alive = None
            else:
                d, tf, dl = raw
                mask = self._alive_posting_mask(d)
                alive = (
                    raw if mask.all() else (d[mask], tf[mask], dl[mask])
                )
                if alive[0].size == 0:
                    alive = None  # every posting was a dead doc
            self._merged_alive_cache[t] = alive
            out[t] = alive
        return out

    def _leg_dead_count(self, key: str, searcher, tp) -> int:
        """|dead ∩ leg postings| for one term — O(|dead| log n) over the
        leg's (cached) decoded docID array, memoized per (leg, term).
        Short-circuits to 0 with no tombstones — the pruned bool/phrase
        paths call the stats step on every query, and a df-only probe
        must not force a full head-term docID decode the leg's own
        block-max evaluator would have skipped."""
        if not self._dead.size:
            return 0
        ck = (key, tp.term)
        n = self._leg_dead_cache.get(ck)
        if n is None:
            docs = searcher._decoded(tp)[0]
            pos = np.searchsorted(docs, self._dead)
            ok = pos < docs.size
            n = int((docs[pos[ok]] == self._dead[ok]).sum())
            self._leg_dead_cache[ck] = n
        return n

    def _alive_term_stats(
        self, uniq: list[str], split_promoted: bool = False
    ) -> tuple:
        """(base term rows, alive-masked delta lists, ALIVE df per term
        [, promoted leg rows]) without masking any BASE posting list:
        alive base df = raw df − |dead ∩ base postings|, an O(|dead| log n)
        searchsorted over the (cached) decoded docID array — the stats
        step of the tombstone fast path, which must not pay the exact
        path's full-list work. With split_promoted=True the masked delta
        lists cover ONLY unpromoted deltas; promoted consolidated legs
        come back as [(LocalSearcher, lookup_rows)] with their alive df
        folded into the per-term counts (same dead-count recipe as the
        base)."""
        base_rows = self.base.lookup_terms(uniq)
        dlists = self._delta_lists(uniq, small_only=split_promoted)
        acache = (
            self._small_alive_cache if split_promoted
            else self._delta_alive_cache2
        )
        leg_rows = (
            [
                (d, self._leg(d), self._leg(d).lookup_terms(uniq))
                for d in self._promoted_dirs
            ]
            if split_promoted
            else []
        )
        alive_d: dict[str, tuple | None] = {}
        dfs: dict[str, int] = {}
        for t in uniq:
            df = 0
            if t in base_rows:
                if t not in self._dead_df_cache:
                    self._dead_df_cache[t] = self._leg_dead_count(
                        "__base__", self.base, base_rows[t]
                    )
                df += int(base_rows[t].df) - self._dead_df_cache[t]
            for d, ls, lr in leg_rows:
                if t in lr:
                    df += int(lr[t].df) - self._leg_dead_count(d, ls, lr[t])
            ent = dlists[t]
            if ent is not None:
                if t not in acache:
                    mask = self._alive_posting_mask(ent[0])
                    acache[t] = (
                        ent
                        if mask.all()
                        else (
                            (ent[0][mask], ent[1][mask], ent[2][mask])
                            if mask.any()
                            else None
                        )
                    )
                ent = acache[t]
            alive_d[t] = ent
            if ent is not None:
                df += int(ent[0].size)
            dfs[t] = df
        if split_promoted:
            return base_rows, alive_d, dfs, [
                (ls, lr) for _d, ls, lr in leg_rows
            ]
        return base_rows, alive_d, dfs

    def _drop_dead(
        self, hits: list[tuple[int, float]]
    ) -> list[tuple[int, float]]:
        if not hits:
            return hits
        docs = np.fromiter((d for d, _ in hits), dtype=np.int64, count=len(hits))
        pos = np.searchsorted(self._dead, docs)
        ok = pos < self._dead.size
        dead = np.zeros(docs.size, dtype=bool)
        dead[ok] = self._dead[pos[ok]] == docs[ok]
        return [h for h, dd in zip(hits, dead) if not dd]

    def _base_leg_alive(
        self,
        method: str,
        terms: list[str],
        k: int,
        idfs: dict[str, float],
        avgdl: float,
        searcher=None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Pruned base-leg top-k that survives tombstones: oversample the
        immutable base index's exact pruned ranking (its top-m is the true
        top-m, dead included), drop dead docs, and retry ONCE at the
        guaranteed depth k + |dead| iff the filtered page is short AND the
        base actually had m matches — at most |dead| dead docs can occupy
        any prefix, so the retry always covers the alive top-k.
        `searcher` swaps in a PROMOTED consolidated-delta leg (doc
        disjointness makes the same argument hold per leg)."""
        fn = getattr(searcher if searcher is not None else self.base, method)
        return self._leg_alive_call(
            lambda kk: fn(terms, kk, idfs=idfs, avgdl=avgdl, after=after), k
        )

    def _leg_alive_call(self, fn, k: int) -> list[tuple[int, float]]:
        """Oversample-filter-retry kernel shared by every pruned leg
        evaluation under tombstones: fn(m) must return the leg's EXACT
        top-m (dead docs included) — at most |dead| dead docs can occupy
        any result prefix, so one retry at k + |dead| always covers the
        alive top-k. With no tombstones this is just fn(k)."""
        if not self._dead.size:
            return fn(k)
        pad = min(int(self._dead.size), max(64, k))
        got = fn(k + pad)
        alive = self._drop_dead(got)
        if (
            len(alive) < k
            and len(got) == k + pad
            and pad < self._dead.size
        ):
            got = fn(k + int(self._dead.size))
            alive = self._drop_dead(got)
        return alive[:k]

    def _alive_posting_mask(self, docs: np.ndarray) -> np.ndarray:
        """Boolean mask over a sorted docID array: True where the doc is
        NOT tombstoned (searchsorted membership against the sorted dead
        set — O(n log |dead|))."""
        pos = np.searchsorted(self._dead, docs)
        ok = pos < self._dead.size
        dead = np.zeros(docs.size, dtype=bool)
        dead[ok] = self._dead[pos[ok]] == docs[ok]
        return ~dead

    def _load_tombstones(self) -> tuple[np.ndarray, int]:
        """(sorted unique dead docIDs, their summed dl) across all
        committed deltas' tombstones.parquet. Re-tombstoning an id (two
        upserts of the same key tombstone the original twice) is deduped
        here; dl is per-doc so any copy carries the same value."""
        ids_l, dl_l = [], []
        for d in self._delta_dirs:
            p = os.path.join(d, "tombstones.parquet")
            if os.path.exists(p):
                pdf = pd.read_parquet(p, columns=["doc_id", "dl"])
                ids_l.append(pdf["doc_id"].to_numpy(dtype=np.int64))
                dl_l.append(pdf["dl"].to_numpy(dtype=np.int64))
        if not ids_l:
            return np.empty(0, dtype=np.int64), 0
        ids = np.concatenate(ids_l)
        dls = np.concatenate(dl_l)
        uniq, first = np.unique(ids, return_index=True)
        return uniq, int(dls[first].sum())

    def _leg(self, d: str) -> LocalSearcher:
        ls = self._leg_searchers.get(d)
        if ls is None:
            ls = self._leg_searchers[d] = LocalSearcher(d)
            ls._deadline = self._deadline  # mid-query leg open inherits
        return ls

    @contextmanager
    def deadline(self, budget_ms: float | None):
        """Per-query time budget over the whole live view — the engine's
        statement_timeout (LocalSearcher.deadline) spanning the base, every
        promoted leg, and the merged-side small-tail loops. None = no-op."""
        if budget_ms is None:
            yield self
            return
        prev = self._deadline
        dl = (time.monotonic() + budget_ms / 1000.0, budget_ms)
        self._deadline = dl
        prev_legs = {
            d: ls._deadline for d, ls in self._leg_searchers.items()
        }
        prev_base = self.base._deadline
        self.base._deadline = dl
        for ls in self._leg_searchers.values():
            ls._deadline = dl
        try:
            yield self
        finally:
            self._deadline = prev
            self.base._deadline = prev_base
            for d, ls in self._leg_searchers.items():
                ls._deadline = prev_legs.get(d, prev)

    def _budget_check(self) -> None:
        dl = self._deadline
        if dl is not None:
            now = time.monotonic()
            if now > dl[0]:
                from discogsography_spark.query.engine import (
                    QueryBudgetExceeded,
                )

                raise QueryBudgetExceeded(
                    dl[1], dl[1] + (now - dl[0]) * 1000.0
                )

    def _delta_lists(
        self, terms: list[str], small_only: bool = False
    ) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray] | None]:
        """term → concatenated delta-side (docs, tf, dl) (batch order →
        ascending doc ranges; None if the term appears in no delta),
        memoized — deltas are immutable for this searcher's lifetime.
        `small_only` restricts to UNPROMOTED deltas (the pruned fast
        paths evaluate promoted legs through their own block metadata)."""
        cache = self._small_list_cache if small_only else self._delta_list_cache
        dirs = self._small_dirs if small_only else self._delta_dirs
        todo = [t for t in terms if t not in cache]
        if todo:
            delta_rows = [self._delta_rows(d, todo) for d in dirs]
            for t in todo:
                self._budget_check()  # per-term delta-decode boundary
                parts_d, parts_tf, parts_dl = [], [], []
                for dr in delta_rows:
                    if t in dr:
                        row = dr[t]
                        d, tf = decode_postings(row["doc_blob"], row["tf_blob"])
                        dl = varbyte_decode(row["dl_blob"]).astype(np.int64)
                        parts_d.append(d)
                        parts_tf.append(tf)
                        parts_dl.append(dl)
                cache[t] = (
                    (
                        np.concatenate(parts_d),
                        np.concatenate(parts_tf),
                        np.concatenate(parts_dl),
                    )
                    if parts_d
                    else None
                )
        return {t: cache[t] for t in terms}

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """term → ALIVE document frequency over the live view (absent
        terms omitted) — the coordinator stats RPC of the sharded live
        tier (ShardedSearcher live mode derives GLOBAL idfs from these
        without moving posting data)."""
        return {
            t: int(ent[0].size)
            for t, ent in self._merged_rows(sorted(set(terms))).items()
            if ent is not None
        }

    def sig_fg_counts(
        self,
        matched: np.ndarray | None = None,
        terms: list[str] | None = None,
        matched_vb: bytes | None = None,
    ) -> dict[str, int]:
        """Foreground doc frequencies over ALIVE merged relations — the
        live-shard side of the significant-terms worker RPC (see
        LocalSearcher.sig_fg_counts; matched_vb = varbyte+delta-compressed
        matched ids)."""
        if matched is None:
            from discogsography_spark.codec import delta_decode, varbyte_decode

            matched = delta_decode(varbyte_decode(matched_vb), prev=-1)
        rels = self._merged_rows(sorted(terms))
        mask = np.zeros(self.id_space, dtype=bool)
        mask[np.asarray(matched, dtype=np.int64)] = True
        fg: dict[str, int] = {}
        for i, (t, ent) in enumerate(rels.items()):
            if i % 64 == 0:
                self._budget_check()  # candidate-batch boundary
            if ent is None:
                continue
            n = int(np.count_nonzero(mask[ent[0]]))
            if n:
                fg[t] = n
        return fg

    def topk(
        self,
        query_text: str,
        k: int,
        budget_ms: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Exact BM25 conjunctive top-k over the live base+delta view.

        Fast path (r5): the base index evaluates through LocalSearcher's
        block-max/champion-pruned `_topk_and` with the COMBINED corpus
        stats injected (df = base+delta document frequency; the view's
        avgdl) — the sharded-searcher recipe, sound under foreign stats
        per the champion re-sort / tfnorm bound scaling; each delta is
        small and scores exactly. Delta doc ranges are disjoint from the
        base, so a conjunctive match lies wholly on one side and the union
        of the two top-k's contains the true top-k — the same argument
        (and the same bit-identity test net) as sharded fan-out.
        `topk_exact` keeps the single-pass reference implementation;
        equality is regression-tested across head/tail/delta-only terms."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk(query_text, k, after=after)
        from discogsography_spark.analysis import get_analyzer

        terms = get_analyzer(self.base.meta.analyzer).analyze_query(query_text)
        if not terms or k <= 0:
            return []
        return self._topk_and(terms, k, after=after)

    def _topk_and(
        self,
        terms: list[str],
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Conjunctive evaluator with optional injected GLOBAL stats — the
        method a live sharded coordinator fans out to (the LocalSearcher
        `_topk_and` contract on the merged view). Local stats when None.
        `after` = search_after cursor, threaded into every leg (merged ids
        are absolute across base/promoted/delta legs, so the cursor needs
        no translation)."""
        if self._dead.size:
            # tombstone fast path: the base leg's pruned ranking is exact
            # (dead included), so oversample-filter-retry keeps the
            # champion/block-max machinery; alive stats come from
            # O(|dead| log n) searchsorted counts, never full-list masks.
            # _exact_and stays the reference; equality is tested.
            return self._tomb_fast_and(
                terms, k, idfs=idfs, avgdl=avgdl, after=after
            )
        uniq = sorted(set(terms))
        base_rows = self.base.lookup_terms(uniq)
        dlists = self._delta_lists(uniq, small_only=True)
        leg_rows = [
            (self._leg(d), self._leg(d).lookup_terms(uniq))
            for d in self._promoted_dirs
        ]
        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        if idfs is None:
            idfs = {}
            for t in uniq:
                df = int(base_rows[t].df) if t in base_rows else 0
                for _ls, lr in leg_rows:
                    if t in lr:
                        df += int(lr[t].df)
                if dlists[t] is not None:
                    df += int(dlists[t][0].size)
                if df == 0:
                    return []  # conjunctive AND: term absent everywhere
                idfs[t] = p.idf(self.n_docs, df)
        elif any(
            t not in base_rows
            and dlists[t] is None
            and all(t not in lr for _ls, lr in leg_rows)
            for t in uniq
        ):
            return []  # conjunctive AND: term absent from this view
        hits: list[tuple[int, float]] = []
        if len(base_rows) == len(uniq):  # base can host a full AND match
            hits.extend(
                self.base._topk_and(
                    terms, k, idfs=idfs, avgdl=avgdl, after=after
                )
            )
        for ls, lr in leg_rows:  # each promoted leg prunes like a base
            if len(lr) == len(uniq):
                hits.extend(
                    ls._topk_and(
                        terms, k, idfs=idfs, avgdl=avgdl, after=after
                    )
                )
        if all(dlists[t] is not None for t in uniq):  # so can the deltas
            lists = {t: dlists[t] for t in uniq}
            hits.extend(
                _exact_and_scores(terms, lists, idfs, p, avgdl, k, after=after)
            )
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits[:k]

    def _topk_or(
        self,
        terms: list[str],
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Disjunctive evaluator with optional injected GLOBAL stats (the
        sharded live coordinator's OR fan-out). Two pruned legs —
        LocalSearcher's WAND-family `_topk_or` on the base with the view's
        stats injected, exact OR over the concatenated delta lists (doc
        ranges disjoint, so each doc's whole OR score lives on one side
        and the union of the legs' top-k contains the true top-k); under
        tombstones the base leg oversample-filter-retries (_base_leg_alive)
        and the delta lists are alive-masked."""
        uniq = sorted(set(terms))
        if not uniq or k <= 0:
            return []
        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        if self._dead.size:
            base_rows, adl, dfs, leg_rows = self._alive_term_stats(
                uniq, split_promoted=True
            )
            if idfs is None:
                idfs = {
                    t: p.idf(self.n_docs, dfs[t])
                    for t in uniq
                    if dfs[t] > 0
                }
            base_present = [
                t for t in uniq if t in base_rows and t in idfs
            ]
            hits: list[tuple[int, float]] = []
            if base_present:
                hits.extend(
                    self._base_leg_alive(
                        "_topk_or", base_present, k, idfs, avgdl,
                        after=after,
                    )
                )
            for ls, lr in leg_rows:  # promoted legs prune + oversample
                leg_present = [t for t in uniq if t in lr and t in idfs]
                if leg_present:
                    hits.extend(
                        self._base_leg_alive(
                            "_topk_or", leg_present, k, idfs, avgdl,
                            searcher=ls, after=after,
                        )
                    )
            if any(adl[t] is not None for t in uniq):
                hits.extend(
                    _exact_or_scores(uniq, adl, idfs, p, avgdl, k, after=after)
                )
            hits.sort(key=lambda h: (-h[1], h[0]))
            return hits[:k]
        base_rows = self.base.lookup_terms(uniq)
        dlists = self._delta_lists(uniq, small_only=True)
        leg_rows = [
            (self._leg(d), self._leg(d).lookup_terms(uniq))
            for d in self._promoted_dirs
        ]
        if idfs is None:
            idfs = {}
            for t in uniq:
                df = int(base_rows[t].df) if t in base_rows else 0
                for _ls, lr in leg_rows:
                    if t in lr:
                        df += int(lr[t].df)
                if dlists[t] is not None:
                    df += int(dlists[t][0].size)
                if df > 0:
                    idfs[t] = p.idf(self.n_docs, df)
        hits: list[tuple[int, float]] = []
        if base_rows:
            hits.extend(
                self.base._topk_or(
                    [t for t in uniq if t in base_rows],
                    k,
                    idfs=idfs,
                    avgdl=avgdl,
                    after=after,
                )
            )
        for ls, lr in leg_rows:  # each promoted leg prunes like a base
            if lr:
                hits.extend(
                    ls._topk_or(
                        [t for t in uniq if t in lr], k,
                        idfs=idfs, avgdl=avgdl, after=after,
                    )
                )
        if any(dlists[t] is not None for t in uniq):
            hits.extend(
                _exact_or_scores(uniq, dlists, idfs, p, avgdl, k, after=after)
            )
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits[:k]

    def topk_exact(
        self,
        query_text: str,
        k: int,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Reference implementation: single exact pass over the merged
        base+delta lists (no pruning). topk() must match this bit-for-bit;
        tests assert it."""
        from discogsography_spark.analysis import get_analyzer

        terms = get_analyzer(self.base.meta.analyzer).analyze_query(query_text)
        if not terms or k <= 0:
            return []
        return self._exact_and(terms, k, after=after)

    def _tomb_fast_and(
        self,
        terms: list[str],
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Conjunctive fast path UNDER tombstones: alive stats from
        searchsorted dead-counts, pruned base leg via oversample-filter-
        retry (_base_leg_alive — the base's pruned top-m is exact, dead
        included, and at most |dead| dead docs occupy any prefix), exact
        AND over alive-masked delta lists. Bit-identical to _exact_and
        (tested)."""
        uniq = sorted(set(terms))
        if not uniq or k <= 0:
            return []
        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        base_rows, adl, dfs, leg_rows = self._alive_term_stats(
            uniq, split_promoted=True
        )
        if any(dfs[t] == 0 for t in uniq):
            return []  # conjunctive AND: term alive nowhere in this view
        if idfs is None:
            idfs = {t: p.idf(self.n_docs, dfs[t]) for t in uniq}
        hits: list[tuple[int, float]] = []
        if len(base_rows) == len(uniq):  # base can host a full AND match
            hits.extend(
                self._base_leg_alive(
                    "_topk_and", terms, k, idfs, avgdl, after=after
                )
            )
        for ls, lr in leg_rows:  # promoted legs prune + oversample alike
            if len(lr) == len(uniq):
                hits.extend(
                    self._base_leg_alive(
                        "_topk_and", terms, k, idfs, avgdl, searcher=ls,
                        after=after,
                    )
                )
        if all(adl[t] is not None for t in uniq):  # so can the deltas
            lists = {t: adl[t] for t in uniq}
            hits.extend(
                _exact_and_scores(terms, lists, idfs, p, avgdl, k, after=after)
            )
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits[:k]

    def _exact_and(
        self,
        terms: list[str],
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        merged_all = self._merged_rows(sorted(set(terms)))
        merged: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for t in set(terms):
            ent = merged_all[t]
            if ent is None:
                return []  # conjunctive AND: term absent everywhere
            merged[t] = ent
        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        if idfs is None:
            idfs = {
                t: p.idf(self.n_docs, int(merged[t][0].size)) for t in merged
            }
        return _exact_and_scores(terms, merged, idfs, p, avgdl, k, after=after)

    def topk_boosted(
        self,
        query_text: str,
        k: int,
        mode: str = "and",
        budget_ms: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Per-term boosted BM25 over the live base+delta view — Lucene
        `clause^boost` syntax (see LocalSearcher.topk_boosted). Boosts
        scale ALIVE-stats idfs, then ride the existing injected-stats
        evaluators (`_topk_and`/`_topk_or` with `idfs=`), so the live
        fast paths — promoted-leg pruning, tombstone oversample-retry —
        stay engaged and the result equals a fresh alive-corpus rebuild's
        topk_boosted bit-identically."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_boosted(query_text, k, mode=mode, after=after)
        if k <= 0:
            return []
        from discogsography_spark.analysis import (
            get_analyzer,
            parse_boosted_query,
        )

        terms, boosts = parse_boosted_query(
            query_text, get_analyzer(self.base.meta.analyzer)
        )
        if not terms:
            return []
        dfs = self.term_dfs(terms)
        if mode != "or" and len(dfs) != len(terms):
            return []  # AND semantics: any missing term → empty
        p = self.params
        idfs = {
            t: boosts[t] * p.idf(self.n_docs, dfs[t])
            for t in terms
            if t in dfs
        }
        if mode == "or":
            return self._topk_or(terms, k, idfs=idfs, after=after)
        return self._topk_and(terms, k, idfs=idfs, after=after)

    def topk_synonym(
        self,
        query_text: str,
        k: int,
        synonyms: dict[str, list[str]],
        budget_ms: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Synonym-aware conjunctive BM25 over the live base+delta view
        (SynonymQuery semantics — see LocalSearcher.topk_synonym). Group
        statistics come from the ALIVE relations (_merged_rows filters
        tombstones), so the result equals a fresh rebuild of the alive
        corpus bit-identically — the same contract as every other live
        mode. Exact evaluator: synonym groups are small unions, and the
        alive-relation gather is the cost the exact tier already pays."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_synonym(query_text, k, synonyms, after=after)
        if k <= 0:
            return []
        from discogsography_spark.analysis import get_analyzer

        an = get_analyzer(self.base.meta.analyzer)
        base_terms = an.analyze_query(query_text)
        seen: set[str] = set()
        terms = [t for t in base_terms if not (t in seen or seen.add(t))]
        if not terms:
            return []
        groups: list[tuple[str, list[str]]] = []
        for t in terms:
            mem = {t}
            for s in synonyms.get(t, ()):
                mem.update(an.analyze_query(s))
            groups.append((t, sorted(mem)))
        groups.sort(key=lambda g: g[0])
        return self._topk_synonym_groups(groups, k, after=after)

    def _synonym_group_relations(
        self,
        groups: list[tuple[str, list[str]]],
        idfs: dict[str, float] | None = None,
    ) -> list[tuple[float, np.ndarray, np.ndarray, np.ndarray]] | None:
        """Per-group merged ALIVE relation — the live-view analog of
        LocalSearcher._synonym_group_relations (shared by the served
        matched-set derivation and the ranking). None = empty query."""
        rels = self._merged_rows(
            sorted({x for _, ms in groups for x in ms})
        )
        p = self.params
        merged: list[tuple[float, np.ndarray, np.ndarray, np.ndarray]] = []
        for leader, ms in groups:
            present = [x for x in ms if rels.get(x) is not None]
            if not present:
                return None
            if idfs is None:
                idf = p.idf(
                    self.n_docs, max(int(rels[x][0].size) for x in present)
                )
            elif leader in idfs:
                idf = idfs[leader]
            else:
                return None
            if len(present) == 1:
                # merged relations are (doc ASC, unique) — skip the
                # no-op sort/unique merge (LocalSearcher's 1-member
                # fast path, same bit-identity argument)
                d, tf, dl = rels[present[0]]
                merged.append((idf, d, tf.astype(np.float64), dl))
                continue
            d_parts, tf_parts, dl_parts = [], [], []
            for x in present:
                d, tf, dl = rels[x]
                d_parts.append(d)
                tf_parts.append(tf)
                dl_parts.append(dl)
            d = np.concatenate(d_parts)
            tf = np.concatenate(tf_parts).astype(np.float64)
            if d.size * 8 >= self.id_space:
                # dense head-group merge — LocalSearcher's bincount path,
                # same exactness argument (ids here are absolute view ids)
                gtf_dense = np.bincount(
                    d, weights=tf, minlength=self.id_space
                )
                uniq = np.flatnonzero(gtf_dense)
                dl_dense = np.zeros(
                    self.id_space, dtype=dl_parts[0].dtype
                )
                for dd, dldd in zip(d_parts, dl_parts):
                    dl_dense[dd] = dldd
                merged.append(
                    (idf, uniq, gtf_dense[uniq], dl_dense[uniq])
                )
                continue
            dl = np.concatenate(dl_parts)
            order = np.argsort(d, kind="stable")
            d, tf, dl = d[order], tf[order], dl[order]
            uniq, start = np.unique(d, return_index=True)
            gtf = np.add.reduceat(tf, start)
            merged.append((idf, uniq, gtf, dl[start]))
        return merged

    def _topk_synonym_groups(
        self,
        groups: list[tuple[str, list[str]]],
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
        restrict: np.ndarray | None = None,
        relations: list | None = None,
        cand: np.ndarray | None = None,
    ) -> list[tuple[int, float]]:
        """Core synonym-group evaluator over alive merged relations —
        same injection contract as LocalSearcher._topk_synonym_groups
        (the live sharded tier injects GLOBAL alive group stats);
        `relations`/`cand` reuse prebuilt state exactly as there."""
        from discogsography_spark.query.engine import isect_sorted

        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        merged = (
            relations
            if relations is not None
            else self._synonym_group_relations(groups, idfs=idfs)
        )
        if merged is None:
            return []
        if cand is None:
            by_size = sorted(merged, key=lambda g: g[1].size)
            cand = by_size[0][1]
            if restrict is not None:
                cand = isect_sorted(cand, restrict)
            for _idf, d, _gtf, _gdl in by_size[1:]:
                cand = isect_sorted(cand, d)
                if cand.size == 0:
                    return []
        if cand.size == 0:
            return []
        norm: np.ndarray | None = None
        scores = np.zeros(cand.size, dtype=np.float64)
        for idf, d, gtf, gdl in merged:  # sorted-leader summation order
            pos = np.searchsorted(d, cand)
            if norm is None:
                dlv = gdl[pos].astype(np.float64)
                norm = p.k1 * (1.0 - p.b + p.b * (dlv / avgdl))
            tf = gtf[pos]
            scores = scores + idf * (tf / (tf + norm))
        if after is not None:
            keep = _after_mask(cand, scores, after)
            cand, scores = cand[keep], scores[keep]
        top = np.lexsort((cand, -scores))[:k]
        return [(int(cand[i]), float(scores[i])) for i in top]

    def suggest_terms(
        self, word: str, k: int = 10, min_sim: float = 0.3
    ) -> list[tuple[str, float]]:
        """Fuzzy vocabulary suggestions over the COMBINED base+delta
        vocabulary (LocalSearcher.suggest_terms's contract on the live
        view). The trigram map builds once per searcher; deltas are
        immutable for its lifetime."""
        if self._trigram_index is None:
            from discogsography_spark.query.fuzzy import TrigramVocabIndex

            vocab: set[str] = set()
            base = self.base
            for seg in range(base.meta.num_segments):
                rd = base._reader(seg)
                if rd is not None:
                    for terms in rd._terms:
                        vocab.update(terms.tolist())
            for delta in self._delta_dirs:
                for seg in range(base.meta.num_segments):
                    rd = self._delta_reader(delta, seg)
                    if rd is not None:
                        for terms in rd._terms:
                            vocab.update(terms.tolist())
            self._trigram_index = TrigramVocabIndex(sorted(vocab))
        if not self._dead.size:
            return self._trigram_index.suggest(word, k=k, min_sim=min_sim)
        # tombstones: a term surviving ONLY in dead docs must not be
        # suggested (a fresh alive rebuild has no such vocabulary entry —
        # and a did-you-mean rewrite to it would rank zero hits).
        # Over-fetch candidates, drop alive-df-0 ones (alive df via the
        # searchsorted dead-counts, no full-list masks), double until the
        # page fills or the trigram index runs out of candidates.
        want = max(4 * k, k + 8)
        while True:
            cands = self._trigram_index.suggest(word, k=want, min_sim=min_sim)
            dfs = self._alive_term_stats([t for t, _ in cands])[2]
            alive = [(t, s) for t, s in cands if dfs.get(t, 0) > 0]
            if len(alive) >= k or len(cands) < want:
                return alive[:k]
            want *= 2

    def topk_fuzzy(
        self, query_text: str, k: int, min_sim: float = 0.3, mode: str = "and"
    ) -> tuple[list[tuple[int, float]], dict[str, str]]:
        """Did-you-mean on the live merged view — LocalSearcher.topk_fuzzy's
        contract with combined-corpus vocabulary and stats. and/or modes
        rewrite the analyzed term list; bool mode rewrites the AST's plain
        term leaves (phrase/within/prefix stay exact)."""
        from discogsography_spark.analysis import get_analyzer
        from discogsography_spark.query.boolquery import (
            parse_bool_query,
            rewrite_fuzzy_terms,
        )

        an = get_analyzer(self.base.meta.analyzer)
        if k <= 0:
            return [], {}

        def _known(t: str) -> bool:
            return self._merged_rows([t])[t] is not None

        def _sugg(t: str) -> str | None:
            got = self.suggest_terms(t, k=1, min_sim=min_sim)
            return got[0][0] if got else None

        if mode == "bool":
            ast = parse_bool_query(
                query_text, an.analyze_query, tokenize=an.tokenize_py
            )
            if ast is None:
                return [], {}
            fixed_ast, rewrites = rewrite_fuzzy_terms(ast, _known, _sugg)
            return self.topk_bool(query_text, k, ast_override=fixed_ast), rewrites
        terms = an.analyze_query(query_text)
        if not terms:
            return [], {}
        rewrites: dict[str, str] = {}
        fixed: list[str] = []
        for t in terms:
            if _known(t):
                fixed.append(t)
                continue
            s = _sugg(t)
            if s is not None:
                rewrites[t] = s
                fixed.append(s)
            else:
                fixed.append(t)
        uniq = sorted(set(fixed))
        node = (
            ("term", uniq[0])
            if len(uniq) == 1
            else (("or" if mode == "or" else "and"), tuple(("term", t) for t in uniq))
        )
        return self.topk_bool(query_text, k, ast_override=node), rewrites

    def topk_bool(
        self,
        query_text: str,
        k: int,
        ast_override=None,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        prefix_expansions: dict[str, list[str]] | None = None,
        budget_ms: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Boolean AND/OR/NOT BM25 over the live base+delta view — the same
        grammar/scoring contract as LocalSearcher.topk_bool (boolquery.py),
        with df/avgdl from the COMBINED corpus so scores equal a fresh
        whole-corpus rebuild. This is also the merged view's disjunctive
        path (`a OR b`). `ast_override` supplies a pre-parsed (possibly
        fuzzy-rewritten) AST; `idfs`/`avgdl`/`prefix_expansions` inject a
        live sharded coordinator's GLOBAL stats and its one global prefix
        rewrite (every shard must evaluate the identical expansion)."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_bool(
                    query_text, k, ast_override=ast_override, idfs=idfs,
                    avgdl=avgdl, prefix_expansions=prefix_expansions,
                    after=after,
                )
        from discogsography_spark.analysis import get_analyzer
        from discogsography_spark.query.boolquery import (
            expand_bool_prefixes,
            parse_bool_query,
        )

        if ast_override is not None:
            ast = ast_override
        else:
            an = get_analyzer(self.base.meta.analyzer)
            ast = parse_bool_query(
                query_text, an.analyze_query, tokenize=an.tokenize_py
            )
        if ast is None or k <= 0:
            return []
        # expand against the COMBINED base+delta vocabulary (delta term
        # dictionaries are sorted in memory by _SegmentReader, so each
        # contributes a binary-searched range — same rule as the base),
        # keeping the capped term-ASC rewrite identical to a fresh
        # whole-corpus rebuild's; a sharded coordinator injects its one
        # GLOBAL rewrite instead
        ast = expand_bool_prefixes(ast, self.expand_pattern, prefix_expansions)
        if ast is None:
            return []
        return self._topk_bool_pruned(
            ast, k, idfs=idfs, avgdl=avgdl, after=after
        )

    def _topk_bool_pruned(
        self,
        ast,
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Pruned boolean evaluation over the live view — union of
        per-leg evaluations instead of full-corpus set algebra. Every doc
        lives in exactly ONE leg (base, a promoted consolidated delta, or
        the small unpromoted tail) and carries all its postings there, so
        the predicate evaluates exactly per leg; BM25 scores probe only
        terms the doc contains, so with the COMBINED alive idfs/avgdl
        injected each leg's per-doc score is bit-identical to the exact
        merged evaluation and the union of leg top-k's contains the true
        top-k (the sharded fan-out argument). The base and promoted legs
        ride LocalSearcher.topk_bool — vocabulary simplification
        (simplify_for_eval), flat AND/OR delegation to the champion /
        max-score evaluators, and the dense-bitmap head-term path — so a
        live shard's boolean cost now tracks the STATIC bool tier, not
        corpus size (the reference's `to_tsquery` rides the same GIN
        index as plain match: schema-init/postgres_schema.py:66-83).
        Under tombstones each leg oversample-filter-retries
        (_leg_alive_call); _topk_bool_exactmerge stays as the reference
        implementation, equality regression-tested."""
        from discogsography_spark.query.boolquery import (
            BoolQueryError,
            all_terms,
            eval_docsets,
            has_positional_nodes,
            polarity_terms,
            simplify_for_eval,
        )

        uniq_all = all_terms(ast)
        _base_rows, adl, dfs, leg_rows = self._alive_term_stats(
            uniq_all, split_promoted=True
        )
        # simplify against the COMBINED alive vocabulary: `x AND NOT zzz`
        # collapses to `x` and takes the merged conjunctive fast path
        ast = simplify_for_eval(ast, lambda t: dfs.get(t, 0) > 0)
        if ast is None:
            return []
        if ast == ("true",):  # unreachable: parser rejects vacuous forms
            raise BoolQueryError("query simplified to match-all")
        pos_terms, neg_terms = polarity_terms(ast)
        terms = sorted(set(pos_terms) | set(neg_terms))
        with_pos = has_positional_nodes(ast)

        def _flat(kind: str) -> bool:
            if ast[0] == "term":
                return True
            return ast[0] == kind and all(c[0] == "term" for c in ast[1])

        # flat conjunctions/disjunctions ARE the dedicated merged modes —
        # delegate to their pruned evaluators (promoted legs + tombstone
        # fast paths included)
        if not with_pos and not neg_terms and _flat("and"):
            return self._topk_and(terms, k, idfs=idfs, avgdl=avgdl, after=after)
        if not with_pos and not neg_terms and _flat("or"):
            return self._topk_or(terms, k, idfs=idfs, avgdl=avgdl, after=after)

        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        if idfs is None:
            idfs = {
                t: p.idf(self.n_docs, dfs[t])
                for t in terms
                if dfs.get(t, 0) > 0
            }
        hits: list[tuple[int, float]] = []
        for searcher in [self.base] + [ls for ls, _lr in leg_rows]:
            hits.extend(
                self._leg_alive_call(
                    lambda kk, srch=searcher: srch.topk_bool(
                        "",
                        kk,
                        use_result_cache=False,
                        idfs=idfs,
                        avgdl=avgdl,
                        ast_override=ast,
                        after=after,
                    ),
                    k,
                )
            )
        hits.extend(
            self._bool_small_tail(
                ast, pos_terms, terms, adl, idfs, avgdl, k, after=after
            )
        )
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits[:k]

    def _bool_small_tail(
        self,
        ast,
        pos_terms: list[str],
        terms: list[str],
        adl: dict[str, tuple | None],
        idfs: dict[str, float],
        avgdl: float,
        k: int,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Exact boolean set algebra + BM25 over the UNPROMOTED delta
        tail only (alive-masked lists from _alive_term_stats) — the small
        leg of _topk_bool_pruned. The tail is bounded by the consolidation
        cadence, so exact evaluation here is O(tail), not O(corpus)."""
        from discogsography_spark.query.boolquery import eval_docsets

        if all(adl.get(t) is None for t in terms):
            return []  # no positive leaf can match a tail doc
        empty = np.empty(0, dtype=np.int64)
        cand = eval_docsets(
            ast,
            lambda t: adl[t][0] if adl.get(t) is not None else empty,
            phrase_docs_of=lambda ph: self._small_phrase_doc_set(list(ph)),
            within_docs_of=self._small_within_doc_set,
        )
        if cand.size == 0:
            return []
        p = self.params
        scores = np.zeros(cand.size, dtype=np.float64)
        for t in pos_terms:  # sorted order — fixed float64 summation order
            self._budget_check()  # small-tail term boundary
            if adl.get(t) is None:
                continue
            d, tf, dl = adl[t]
            pos = np.searchsorted(d, cand)
            ok = pos < d.size
            mask = np.zeros(cand.size, dtype=bool)
            mask[ok] = d[pos[ok]] == cand[ok]
            sel = pos[mask]
            tfv = tf[sel].astype(np.float64)
            norm = p.k1 * (
                1.0 - p.b + p.b * (dl[sel].astype(np.float64) / avgdl)
            )
            scores[mask] = scores[mask] + idfs[t] * (tfv / (tfv + norm))
        if after is not None:
            keep = _after_mask(cand, scores, after)
            cand, scores = cand[keep], scores[keep]
        order = np.lexsort((cand, -scores))[:k]
        return [(int(cand[i]), float(scores[i])) for i in order]

    def _topk_bool_exactmerge(
        self,
        ast,
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Reference boolean implementation: exact set algebra over the
        FULL merged alive relations (the pre-r6 topk_bool body).
        _topk_bool_pruned must match it bit-for-bit; tests assert it."""
        from discogsography_spark.query.boolquery import (
            eval_docsets,
            polarity_terms,
        )

        pos_terms, neg_terms = polarity_terms(ast)
        terms = sorted(set(pos_terms) | set(neg_terms))
        merged = self._merged_rows(terms)
        empty = np.empty(0, dtype=np.int64)
        cand = eval_docsets(
            ast,
            lambda t: merged[t][0] if merged[t] is not None else empty,
            phrase_docs_of=lambda ph: self._merged_phrase_doc_set(list(ph)),
            within_docs_of=self._merged_within_doc_set,
        )
        if cand.size == 0:
            return []

        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        present = [t for t in pos_terms if merged[t] is not None]
        scores = np.zeros(cand.size, dtype=np.float64)
        for t in present:  # sorted order — fixed float64 summation order
            d, tf, dl = merged[t]
            pos = np.searchsorted(d, cand)
            ok = pos < d.size
            mask = np.zeros(cand.size, dtype=bool)
            mask[ok] = d[pos[ok]] == cand[ok]
            sel = pos[mask]
            idf = (
                idfs[t] if idfs is not None
                else p.idf(self.n_docs, int(d.size))
            )
            tfv = tf[sel].astype(np.float64)
            norm = p.k1 * (
                1.0 - p.b + p.b * (dl[sel].astype(np.float64) / avgdl)
            )
            scores[mask] = scores[mask] + idf * (tfv / (tfv + norm))
        if after is not None:
            keep = _after_mask(cand, scores, after)
            cand, scores = cand[keep], scores[keep]
        order = np.lexsort((cand, -scores))[:k]
        return [(int(cand[i]), float(scores[i])) for i in order]

    def expand_prefix(self, prefix: str, max_expansions: int = 64) -> list[str]:
        """Vocabulary terms starting with `prefix` across base + deltas,
        term-ASC, capped — LocalSearcher.expand_prefix's deterministic rule
        over the COMBINED vocabulary. Delta dictionaries are the same
        sorted in-memory arrays _SegmentReader keeps for the base, so each
        (delta, segment, file) contributes one binary-searched range."""
        delta_found = self._delta_dict_terms(prefix, None)
        return self._alive_capped_expansion(
            lambda want: self.base.expand_prefix(prefix, want),
            delta_found,
            max_expansions,
        )

    def expand_wildcard(
        self, pattern: str, max_expansions: int = 64
    ) -> list[str]:
        """Vocabulary terms matching a wildcard pattern across base +
        deltas, term-ASC, capped, dead-only vocabulary excluded —
        LocalSearcher.expand_wildcard's deterministic rule on the live
        view (same alive-filtering contract as expand_prefix)."""
        from discogsography_spark.analysis import (
            wildcard_literal_prefix,
            wildcard_regex,
        )

        rx = wildcard_regex(pattern)
        lit = wildcard_literal_prefix(pattern)
        delta_found = self._delta_dict_terms(lit, rx)
        return self._alive_capped_expansion(
            lambda want: self.base.expand_wildcard(pattern, want),
            delta_found,
            max_expansions,
        )

    def expand_wildcards(
        self, patterns: list[str], max_expansions: int = 64
    ) -> dict[str, list[str]]:
        """Batched expand_wildcard (one coordinator RPC per query)."""
        return {p: self.expand_wildcard(p, max_expansions) for p in patterns}

    def expand_patterns(
        self, strings: list[str], max_expansions: int = 64
    ) -> dict[str, list[str]]:
        """Batched mixed prefix/wildcard expansion on the live view —
        LocalSearcher.expand_patterns's dispatch rule."""
        return {s: self.expand_pattern(s, max_expansions) for s in strings}

    def expand_pattern(self, s: str, max_expansions: int = 64) -> list[str]:
        """Single-string expansion dispatch on the live view
        (LocalSearcher.expand_pattern's rule)."""
        from discogsography_spark.analysis import is_wild_pattern

        return (
            self.expand_wildcard(s, max_expansions)
            if is_wild_pattern(s)
            else self.expand_prefix(s, max_expansions)
        )

    def _delta_dict_terms(self, lit: str, rx) -> set[str]:
        """Delta-dictionary terms in the range [lit, lit+'{') (whole
        dictionary when lit is empty), regex-filtered when rx is given.
        Delta dictionaries are the same sorted in-memory arrays
        _SegmentReader keeps for the base, so each (delta, segment, file)
        contributes one binary-searched range."""
        hi_key = lit + "{"
        found: set[str] = set()
        for delta in self._delta_dirs:
            for seg in range(self.base.meta.num_segments):
                rd = self._delta_reader(delta, seg)
                if rd is None:
                    continue
                for terms in rd._terms:
                    if lit:
                        lo = int(np.searchsorted(terms, lit, side="left"))
                        hi = int(np.searchsorted(terms, hi_key, side="left"))
                        cand = terms[lo:hi]
                    else:
                        cand = terms
                    if rx is None:
                        found.update(cand.tolist())
                    else:
                        found.update(
                            t for t in cand.tolist() if rx.fullmatch(t)
                        )
        return found

    def _alive_capped_expansion(
        self, base_seed, delta_found: set[str], max_expansions: int
    ) -> list[str]:
        """Term-ASC-capped union of a base expansion and delta-dictionary
        matches, excluding dead-only vocabulary. base_seed(want) must
        return the base expansion capped at `want`, term-ASC.

        Tombstones: vocabulary alive NOWHERE must not occupy expansion
        slots — at the cap boundary a dead-only term would displace a
        real term the fresh alive rebuild expands to. The base seed must
        over-fetch (its own cap could hide the replacement term), so
        double the base window until the alive page fills or the base
        vocabulary for the range is exhausted; alive-filter in sorted
        windows so the term-ASC cap rule matches the rebuild's exactly
        (the survivors' decodes are reused by the evaluation that
        follows every expansion)."""
        if not self._dead.size:
            found = set(base_seed(max_expansions))
            return sorted(found | delta_found)[:max_expansions]
        want = max_expansions
        while True:
            base_terms = base_seed(want)
            cand = sorted(set(base_terms) | delta_found)
            out: list[str] = []
            i = 0
            while len(out) < max_expansions and i < len(cand):
                window = cand[i : i + max_expansions]
                dfs = self._alive_term_stats(window)[2]
                out.extend(t for t in window if dfs.get(t, 0) > 0)
                i += max_expansions
            if len(out) >= max_expansions or len(base_terms) < want:
                return out[:max_expansions]
            want *= 2

    def expand_prefixes(
        self, prefixes: list[str], max_expansions: int = 64
    ) -> dict[str, list[str]]:
        """Batched expand_prefix — one coordinator RPC per query instead of
        one per prefix (LocalSearcher.expand_prefixes's contract on the
        live view)."""
        return {p: self.expand_prefix(p, max_expansions) for p in prefixes}

    def topk_prefix(
        self, query_text: str, k: int, max_expansions: int = 64
    ) -> list[tuple[int, float]]:
        """Autocomplete prefix top-k over the live merged view —
        LocalSearcher.topk_prefix's contract on the alive corpus."""
        from discogsography_spark.analysis import analyze_query

        prefixes = analyze_query(query_text)
        if not prefixes or k <= 0:
            return []
        return self._topk_prefix_uncached(prefixes, k, max_expansions)

    def topk_wildcard(
        self, query_text: str, k: int, max_expansions: int = 64
    ) -> list[tuple[int, float]]:
        """Wildcard term-match top-k over the live merged view —
        LocalSearcher.topk_wildcard's contract on the alive corpus
        (alive-filtered expansions, combined stats)."""
        from discogsography_spark.analysis import parse_wildcard_query

        patterns = parse_wildcard_query(query_text)
        if not patterns or k <= 0:
            return []
        exp = self.expand_wildcards(patterns, max_expansions)
        return self._topk_prefix_uncached(
            patterns, k, max_expansions, exp=exp
        )

    def _topk_prefix_uncached(
        self,
        prefixes: list[str],
        k: int,
        max_expansions: int,
        exp: dict[str, list[str]] | None = None,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
    ) -> list[tuple[int, float]]:
        """Autocomplete-prefix top-k over the live view — LocalSearcher's
        evaluator contract (conjunctive across prefixes, distinct-union-term
        scoring, 5dp, (score DESC, doc ASC)) on the alive merged lists, with
        optional injected GLOBAL expansion map + stats from a live sharded
        coordinator."""
        if exp is None:
            exp = self.expand_prefixes(prefixes, max_expansions)
        if any(not ts for ts in exp.values()):
            return []  # conjunctive across prefixes: an empty expansion fails
        union_terms = sorted({t for ts in exp.values() for t in ts})
        if all(len(ts) == 1 for ts in exp.values()):
            # singleton expansions: distinct-union scoring degenerates to
            # plain conjunctive BM25 — the pruned merged evaluator under
            # the prefix contract's round-then-rank (engine._rounded_and_topk)
            from discogsography_spark.query.engine import _rounded_and_topk

            hits = _rounded_and_topk(
                self._topk_and, union_terms, k, idfs, avgdl
            )
            if hits is not None:
                return hits
            # giant 5dp tie plateau: exact general path below
        merged = self._merged_rows(union_terms)
        p = self.params
        if avgdl is None:
            avgdl = self.avgdl

        # candidates: docs matching at least one expansion of EVERY prefix
        pres: np.ndarray | None = None
        for pre in prefixes:
            arrs = [
                merged[t][0]
                for t in exp[pre]
                if merged.get(t) is not None
            ]
            if not arrs:
                return []
            pu = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
            pres = (
                pu
                if pres is None
                else np.intersect1d(pres, pu, assume_unique=True)
            )
            if pres.size == 0:
                return []

        # distinct-union-term scoring, term-sorted accumulation per doc
        scores = np.zeros(pres.size, dtype=np.float64)
        for t in union_terms:
            ent = merged.get(t)
            if ent is None:
                continue
            d, tf, dl = ent
            pos = np.searchsorted(d, pres)
            ok = pos < d.size
            mask = np.zeros(pres.size, dtype=bool)
            mask[ok] = d[pos[ok]] == pres[ok]
            if not mask.any():
                continue
            sel = pos[mask]
            idf = (
                idfs[t] if idfs is not None
                else p.idf(self.n_docs, int(d.size))
            )
            tfv = tf[sel].astype(np.float64)
            norm = p.k1 * (
                1.0 - p.b + p.b * (dl[sel].astype(np.float64) / avgdl)
            )
            scores[mask] = scores[mask] + idf * (tfv / (tfv + norm))
        scores = np.round(scores, 5)
        order = np.lexsort((pres, -scores))[:k]
        return [(int(pres[i]), float(scores[i])) for i in order]

    def topk_within(
        self,
        word1: str,
        word2: str,
        window: int,
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        budget_ms: float | None = None,
    ) -> list[tuple[int, float]]:
        """Proximity top-k (`a <N> b`, either order) over the LIVE merged
        view — LocalSearcher.topk_within semantics (conjunctive BM25 of the
        two terms, combined corpus stats, 5dp rounding) without pausing
        between compactions. Pruned union-of-legs evaluation (r6): the
        base and each PROMOTED consolidated delta evaluate through
        LocalSearcher.topk_within — dense-candidate pruning + lazy
        score-tier position verification over their own block directories
        — with the combined alive stats injected; only the small
        unpromoted tail evaluates exactly. Every doc's postings and
        positions live wholly in its own leg, so per-doc scores are
        bit-identical to the exact merged evaluation and the union of leg
        top-k's contains the true top-k (the sharded fan-out argument).
        Under tombstones each leg oversample-filter-retries
        (_leg_alive_call). `idfs`/`avgdl` inject GLOBAL stats from a live
        sharded coordinator. _topk_within_exactmerge keeps the reference
        implementation; equality is regression-tested."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_within(
                    word1, word2, window, k, idfs=idfs, avgdl=avgdl
                )
        from discogsography_spark.analysis import get_analyzer

        an = get_analyzer(self.base.meta.analyzer)
        ts1 = an.analyze_query(word1)
        ts2 = an.analyze_query(word2)
        if not ts1 or not ts2 or k <= 0:
            return []
        if window < 1:
            raise ValueError(f"window must be ≥ 1, got {window}")
        t1, t2 = ts1[0], ts2[0]
        terms = sorted({t1, t2})
        _base_rows, adl, dfs, leg_rows = self._alive_term_stats(
            terms, split_promoted=True
        )
        if any(dfs.get(t, 0) == 0 for t in terms):
            return []  # conjunctive: a term alive nowhere matches nothing
        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        if idfs is None:
            idfs = {t: p.idf(self.n_docs, dfs[t]) for t in terms}
        hits: list[tuple[int, float]] = []
        for searcher in [self.base] + [ls for ls, _lr in leg_rows]:
            hits.extend(
                self._leg_alive_call(
                    lambda kk, srch=searcher: srch.topk_within(
                        word1, word2, window, kk, idfs=idfs, avgdl=avgdl
                    ),
                    k,
                )
            )
        hits.extend(
            self._small_within_hits((t1, t2), (window,), terms, idfs, avgdl, k)
        )
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits[:k]

    def _small_within_hits(
        self,
        chain: tuple[str, ...],
        windows: tuple[int, ...],
        terms: list[str],
        idfs: dict[str, float],
        avgdl: float,
        k: int,
    ) -> list[tuple[int, float]]:
        """Exact proximity leg over the UNPROMOTED delta tail (conjunctive
        BM25 of the chain terms, combined stats, 5dp rounding) — the small
        leg of the pruned topk_within."""
        st = self._merged_chain_state(chain, windows, small_only=True)
        if st is None:
            return []
        cand, verify = st
        keep = verify(cand)
        if keep.size == 0:
            return []
        rows = self._small_rows(terms)
        p = self.params
        scores = np.zeros(keep.size, dtype=np.float64)
        norm: np.ndarray | None = None
        for t in terms:  # sorted order — the repo-wide float contract
            d, tf, dl = rows[t]
            pos = np.searchsorted(d, keep)  # exact hits (keep ⊆ d)
            if norm is None:
                norm = p.k1 * (
                    1.0 - p.b + p.b * (dl[pos].astype(np.float64) / avgdl)
                )
            tfv = tf[pos].astype(np.float64)
            scores = scores + idfs[t] * (tfv / (tfv + norm))
        scores = np.round(scores, 5)
        order = np.lexsort((keep, -scores))[:k]
        return [(int(keep[i]), float(scores[i])) for i in order]

    def _topk_within_exactmerge(
        self,
        word1: str,
        word2: str,
        window: int,
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
    ) -> list[tuple[int, float]]:
        """Reference proximity implementation: exact conjunctive scoring
        over the FULL merged alive relations with lazy score-tier position
        verification (the pre-r6 topk_within body). topk_within must match
        it bit-for-bit; tests assert it."""
        from discogsography_spark.analysis import get_analyzer
        from discogsography_spark.query.engine import _lazy_verified_topk

        an = get_analyzer(self.base.meta.analyzer)
        ts1 = an.analyze_query(word1)
        ts2 = an.analyze_query(word2)
        if not ts1 or not ts2 or k <= 0:
            return []
        if window < 1:
            raise ValueError(f"window must be ≥ 1, got {window}")
        t1, t2 = ts1[0], ts2[0]
        terms = sorted({t1, t2})
        st = self._merged_chain_state((t1, t2), (window,))
        if st is None:
            return []
        cand, verify = st
        merged = self._merged_rows(terms)  # cache hits from the resolver

        # exact conjunctive BM25 over ALL candidates, combined stats,
        # sorted-term accumulation (the repo-wide float contract), 5dp —
        # verification only removes docs, never rescores, so tiering is
        # exact (the kernel's strict-bound stop rule)
        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        if idfs is None:
            idfs = {
                t: p.idf(self.n_docs, int(merged[t][0].size)) for t in terms
            }
        scores = np.zeros(cand.size, dtype=np.float64)
        norm: np.ndarray | None = None
        for t in terms:
            d, tf, dl = merged[t]
            pos = np.searchsorted(d, cand)  # exact hits (cand ⊆ d)
            if norm is None:
                norm = p.k1 * (
                    1.0 - p.b + p.b * (dl[pos].astype(np.float64) / avgdl)
                )
            tfv = tf[pos].astype(np.float64)
            scores = scores + idfs[t] * (tfv / (tfv + norm))
        scores = np.round(scores, 5)
        return _lazy_verified_topk(cand, scores, verify, k, check=self._budget_check)

    def _merged_within_doc_set(
        self, chain: tuple[str, ...], windows: tuple[int, ...]
    ) -> np.ndarray:
        """Sorted docIDs of the merged view admitting a proximity chain —
        used by boolean within(-chain) nodes, which need the FULL matching
        doc relation (no score order to tier by)."""
        st = self._merged_chain_state(chain, windows)
        if st is None:
            return np.empty(0, dtype=np.int64)
        cand, verify = st
        return verify(cand)

    def _merged_chain_state(
        self,
        chain: tuple[str, ...],
        windows: tuple[int, ...],
        small_only: bool = False,
    ):
        """(cand, verify) for a proximity chain over the live merged view:
        sorted conjunctive candidate docIDs, and verify(docs_sorted) → the
        sorted subset with occurrences p1..pn, |p_{i+1} − p_i| ≤ windows[i]
        per link (either direction; adjacent equal terms need distinct
        occurrences) — the engine's left-fold kernel (_chain_fold_keys)
        over block-granular positional gathers (_merged_term_key_fn).
        None when any term is absent or no candidate holds all terms.
        `small_only` restricts the whole computation to the UNPROMOTED
        delta tail (alive-masked lists, small-delta position streams) —
        the pruned paths' exact tail leg."""
        chain = tuple(chain)
        windows = tuple(windows)
        terms = sorted(set(chain))
        merged_all = (
            self._small_rows(terms) if small_only else self._merged_rows(terms)
        )
        merged = {t: merged_all.get(t) for t in terms}
        if any(m is None for m in merged.values()):
            return None

        # candidate set: conjunctive; adjacent-equal links need ≥ 2 occs
        need2 = {
            chain[i] for i in range(len(chain) - 1) if chain[i] == chain[i + 1]
        }
        by_df = sorted(terms, key=lambda t: (merged[t][0].size, t))
        t0 = by_df[0]
        d0, tf0, _dl0 = merged[t0]
        cand = d0[tf0 >= 2] if t0 in need2 else d0
        for t in by_df[1:]:
            d, tf, _dl = merged[t]
            pos = np.searchsorted(d, cand)
            ok = pos < d.size
            hit = np.zeros(cand.shape, dtype=bool)
            hit[ok] = d[pos[ok]] == cand[ok]
            cand = cand[hit]
            if t in need2:
                pos2 = np.searchsorted(d, cand)
                cand = cand[tf[pos2] >= 2]
        if cand.size == 0:
            return None

        max_dl = max(int(merged[t][2].max()) for t in terms)
        # same sizing rule as the engine's topk_within: window offsets are
        # clamped to the doc's key space, so no +16 slack is needed
        shift = max(21, max_dl.bit_length())
        if self.id_space >= (1 << (63 - shift)):  # dead ids still occupy slots
            raise ValueError("proximity key packing overflow on merged view")
        SHIFT = np.int64(shift)
        span = np.int64(1 << shift)

        from discogsography_spark.query.engine import _chain_fold_keys

        term_keys = (
            self._small_term_key_fn(terms, SHIFT)
            if small_only
            else self._merged_term_key_fn(terms, SHIFT)
        )

        def verify(docs_sorted: np.ndarray) -> np.ndarray:
            keys = {t: term_keys(t, docs_sorted) for t in terms}
            return _chain_fold_keys(chain, windows, keys, SHIFT, span)

        return np.sort(cand), verify

    def _delta_positions(
        self, terms: list[str], small_only: bool = False
    ) -> dict[str, tuple | None]:
        """term → concatenated DELTA-side (docs, tf, flat positions,
        per-posting offsets), RAW (dead postings keep their runs — callers
        gather by alive docID, never by stream scan; None if the term
        appears in no delta). Memoized: deltas are immutable for this
        searcher's lifetime. Requires positional deltas (DeltaIndexWriter
        writes them whenever the base manifest says with_positions).
        `small_only` restricts to UNPROMOTED deltas — the pruned
        phrase/within/bool paths gather the small tail here and evaluate
        promoted consolidated legs through their own positional block
        directories instead."""
        cache = self._small_pos_cache if small_only else self._delta_pos_cache
        dirs = self._small_dirs if small_only else self._delta_dirs
        todo = [t for t in terms if t not in cache]
        if todo:
            delta_rows = [self._delta_rows(d, todo) for d in dirs]
            for t in todo:
                parts_d, parts_tf, parts_pos = [], [], []
                for dr in delta_rows:
                    if t not in dr:
                        continue
                    row = dr[t]
                    if not row.get("pos_blob"):
                        raise ValueError(
                            f"delta lacks positional postings for {t!r} — "
                            "phrase queries over the merged view need "
                            "positional deltas (base built with_positions "
                            "and deltas written by this version)"
                        )
                    dd, dtf = decode_postings(row["doc_blob"], row["tf_blob"])
                    parts_d.append(dd)
                    parts_tf.append(dtf)
                    parts_pos.append(
                        varbyte_decode(row["pos_blob"]).astype(np.int64)
                    )
                if not parts_d:
                    cache[t] = None
                    continue
                tf = np.concatenate(parts_tf)
                flat = np.concatenate(parts_pos)
                if flat.size != int(tf.sum()):
                    # fail fast on a truncated / inconsistent delta stream
                    # instead of gathering wrong (doc, pos) keys
                    raise ValueError(
                        f"positional stream length {flat.size} != delta cf "
                        f"{int(tf.sum())} for {t!r}"
                    )
                cache[t] = (
                    np.concatenate(parts_d),
                    tf,
                    flat,
                    np.concatenate(([0], np.cumsum(tf))),
                )
        return {t: cache[t] for t in terms}

    def _merged_term_key_fn(self, terms: list[str], SHIFT: np.int64):
        """keys(term, docs_sorted) → sorted (doc << SHIFT | pos) keys over
        the live merged view WITHOUT materializing base position streams:
        base-id candidates route through LocalSearcher._term_position_keys
        (block-skip on directory-bearing indexes — only the posting blocks
        holding candidates decode), delta-id candidates gather from the
        memoized per-term delta streams (deltas are small and immutable).
        Base ids precede every delta range, so concatenating the two parts
        preserves key order. Tombstones need no masking here: callers pass
        alive candidate docs and keys are gathered by docID, never by
        stream position."""
        base_rows = self.base.lookup_terms(terms)
        dpos = self._delta_positions(terms)
        base_space = self.base.meta.n_docs  # delta doc ranges start here

        def keys(t: str, docs_sorted: np.ndarray) -> np.ndarray:
            split = int(np.searchsorted(docs_sorted, base_space))
            parts = []
            bd = docs_sorted[:split]
            tp = base_rows.get(t)
            if bd.size:
                # a base-id candidate containing t has its posting in the
                # base segment (upserts mint NEW delta ids) — tp exists
                parts.append(self.base._term_position_keys(tp, bd, SHIFT))
            dd = docs_sorted[split:]
            if dd.size:
                from discogsography_spark.query.engine import _position_keys

                ddocs, dtf, dflat, doff = dpos[t]
                parts.append(
                    _position_keys(ddocs, dtf, dflat, doff, dd, SHIFT)
                )
            if not parts:
                return np.empty(0, dtype=np.int64)
            return parts[0] if len(parts) == 1 else np.concatenate(parts)

        return keys

    def _small_rows(
        self, terms: list[str]
    ) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray] | None]:
        """term → alive-masked (docs, tf, dl) over the UNPROMOTED delta
        tail only (None if absent there) — the exact-leg inputs of the
        pruned bool/phrase/within paths. Shares _small_alive_cache with
        _alive_term_stats so either entry point warms the other."""
        dlists = self._delta_lists(terms, small_only=True)
        if not self._dead.size:
            return dlists
        out: dict[str, tuple | None] = {}
        for t in terms:
            ent = dlists[t]
            if ent is not None:
                if t not in self._small_alive_cache:
                    mask = self._alive_posting_mask(ent[0])
                    self._small_alive_cache[t] = (
                        ent
                        if mask.all()
                        else (
                            (ent[0][mask], ent[1][mask], ent[2][mask])
                            if mask.any()
                            else None
                        )
                    )
                ent = self._small_alive_cache[t]
            out[t] = ent
        return out

    def _small_term_key_fn(self, terms: list[str], SHIFT: np.int64):
        """keys(term, docs_sorted) → sorted (doc << SHIFT | pos) keys over
        the UNPROMOTED delta tail — the small-leg counterpart of
        _merged_term_key_fn (candidates are small-delta docIDs only, so
        no base/leg routing is needed; streams are RAW but keys gather by
        alive candidate docID)."""
        dpos = self._delta_positions(terms, small_only=True)

        def keys(t: str, docs_sorted: np.ndarray) -> np.ndarray:
            ent = dpos.get(t)
            if ent is None or docs_sorted.size == 0:
                return np.empty(0, dtype=np.int64)
            from discogsography_spark.query.engine import _position_keys

            ddocs, dtf, dflat, doff = ent
            return _position_keys(ddocs, dtf, dflat, doff, docs_sorted, SHIFT)

        return keys

    def _small_phrase_doc_set(self, ordered: list[str]) -> np.ndarray:
        """Sorted alive docIDs of the UNPROMOTED delta tail matching an
        exact phrase — the boolean phrase-node resolver of the pruned
        topk_bool's small leg."""
        st = self._merged_phrase_state(ordered, small_only=True)
        if st is None:
            return np.empty(0, dtype=np.int64)
        cand, _tf_by, _dl0, _rows, verify = st
        return verify(cand)

    def _small_within_doc_set(
        self, chain: tuple[str, ...], windows: tuple[int, ...]
    ) -> np.ndarray:
        """Sorted alive docIDs of the UNPROMOTED delta tail admitting a
        proximity chain — the boolean within-node resolver of the pruned
        topk_bool's small leg."""
        st = self._merged_chain_state(chain, windows, small_only=True)
        if st is None:
            return np.empty(0, dtype=np.int64)
        cand, verify = st
        return verify(cand)

    def _merged_phrase_state(self, ordered: list[str], small_only: bool = False):
        """Phrase-evaluation state over the live merged view — shared by
        topk_phrase and boolean phrase nodes.
        Returns (cand, tf_by, dl0, merged, verify) where verify(docs_sorted)
        folds phrase adjacency over just those docs (block-granular
        positional gathers via _merged_term_key_fn); None when any term is
        absent or no candidate holds all terms. `small_only` restricts the
        computation to the UNPROMOTED delta tail (alive-masked lists,
        small-delta position streams) — the pruned paths' exact tail leg."""
        terms = sorted(set(ordered))
        merged_all = (
            self._small_rows(terms) if small_only else self._merged_rows(terms)
        )
        merged = {t: merged_all.get(t) for t in terms}
        if any(m is None for m in merged.values()):
            return None
        by_df = sorted(terms, key=lambda t: (merged[t][0].size, t))
        cand, tf0, dl0 = merged[by_df[0]]
        tf_by = {by_df[0]: tf0}
        for t in by_df[1:]:
            d, tf, _dl = merged[t]
            pos = np.searchsorted(d, cand)
            ok = pos < d.size
            hit = np.zeros(cand.shape, dtype=bool)
            hit[ok] = d[pos[ok]] == cand[ok]
            cand, dl0 = cand[hit], dl0[hit]
            for tt in tf_by:
                tf_by[tt] = tf_by[tt][hit]
            tf_by[t] = tf[pos[hit]]
            if cand.size == 0:
                return None

        max_dl = int(dl0.max()) if dl0.size else 1
        # +16 slack: survivors + j must not wrap into the next doc's key
        # space (the engine paths' sizing rule — engine.py topk_phrase)
        shift = max(21, (max_dl + 16).bit_length())
        if self.id_space >= (1 << (63 - shift)):  # dead ids still occupy slots
            raise ValueError("phrase key packing overflow on merged view")
        SHIFT = np.int64(shift)

        term_keys = (
            self._small_term_key_fn(terms, SHIFT)
            if small_only
            else self._merged_term_key_fn(terms, SHIFT)
        )

        def verify(docs_sorted: np.ndarray) -> np.ndarray:
            survivors = term_keys(ordered[0], docs_sorted)
            for j, t in enumerate(ordered[1:], start=1):
                if survivors.size == 0:
                    break
                alive = np.unique(survivors >> SHIFT)
                kj = term_keys(t, alive)
                target = survivors + np.int64(j)
                pos = np.searchsorted(kj, target)
                ok = pos < kj.size
                hit = np.zeros(survivors.size, dtype=bool)
                hit[ok] = kj[pos[ok]] == target[ok]
                survivors = survivors[hit]
            return np.unique(survivors >> SHIFT)

        return cand, tf_by, dl0, merged, verify

    def _merged_phrase_doc_set(self, ordered: list[str]):
        st = self._merged_phrase_state(ordered)
        if st is None:
            return np.empty(0, dtype=np.int64)
        cand, _tf_by, _dl0, _merged, verify = st
        return verify(cand)

    def topk_phrase(
        self,
        phrase: str,
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        budget_ms: float | None = None,
    ) -> list[tuple[int, float]]:
        """Exact-phrase BM25 top-k over the LIVE merged view (base + deltas,
        combined corpus stats) — phrase capability does not pause between
        compactions. Pruned union-of-legs evaluation (r6): the base and
        each PROMOTED consolidated delta evaluate through
        LocalSearcher.topk_phrase — dense-candidate intersection + lazy
        score-tier adjacency verification over their own positional block
        directories — with the combined alive stats injected; only the
        small unpromoted tail evaluates exactly. Per-doc scores are
        bit-identical to the exact merged evaluation (a doc's postings
        and positions live wholly in its leg) and the union of leg
        top-k's contains the true top-k. Under tombstones each leg
        oversample-filter-retries (_leg_alive_call). `idfs`/`avgdl`
        inject GLOBAL stats from a live sharded coordinator.
        _topk_phrase_exactmerge keeps the reference implementation;
        equality is regression-tested."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_phrase(phrase, k, idfs=idfs, avgdl=avgdl)
        from discogsography_spark.analysis import get_analyzer

        an = get_analyzer(self.base.meta.analyzer)
        ordered = an.tokenize_py(phrase)
        terms = sorted(set(ordered))
        if not ordered or k <= 0:
            return []
        _base_rows, adl, dfs, leg_rows = self._alive_term_stats(
            terms, split_promoted=True
        )
        if any(dfs.get(t, 0) == 0 for t in terms):
            return []  # phrase ⊆ AND: a term alive nowhere matches nothing
        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        if idfs is None:
            idfs = {t: p.idf(self.n_docs, dfs[t]) for t in terms}
        hits: list[tuple[int, float]] = []
        for searcher in [self.base] + [ls for ls, _lr in leg_rows]:
            hits.extend(
                self._leg_alive_call(
                    lambda kk, srch=searcher: srch.topk_phrase(
                        phrase, kk, idfs=idfs, avgdl=avgdl
                    ),
                    k,
                )
            )
        hits.extend(self._small_phrase_hits(ordered, terms, idfs, avgdl, k))
        hits.sort(key=lambda h: (-h[1], h[0]))
        return hits[:k]

    def _small_phrase_hits(
        self,
        ordered: list[str],
        terms: list[str],
        idfs: dict[str, float],
        avgdl: float,
        k: int,
    ) -> list[tuple[int, float]]:
        """Exact phrase leg over the UNPROMOTED delta tail (BM25 of the
        phrase terms, combined stats, 5dp rounding) — the small leg of the
        pruned topk_phrase."""
        st = self._merged_phrase_state(ordered, small_only=True)
        if st is None:
            return []
        cand, tf_by, dl0, _rows, verify = st
        keep = verify(cand)
        if keep.size == 0:
            return []
        pos = np.searchsorted(cand, keep)  # keep ⊆ cand
        p = self.params
        norm = p.k1 * (
            1.0 - p.b + p.b * (dl0[pos].astype(np.float64) / avgdl)
        )
        score = np.zeros(keep.size, dtype=np.float64)
        for t in terms:  # sorted order — the repo-wide float contract
            tfv = tf_by[t][pos].astype(np.float64)
            score = score + idfs[t] * (tfv / (tfv + norm))
        score = np.round(score, 5)
        order = np.lexsort((keep, -score))[:k]
        return [(int(keep[i]), float(score[i])) for i in order]

    def _topk_phrase_exactmerge(
        self,
        phrase: str,
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
    ) -> list[tuple[int, float]]:
        """Reference phrase implementation: exact BM25 over the FULL
        merged alive relations with lazy score-tier adjacency verification
        (the pre-r6 topk_phrase body). topk_phrase must match it
        bit-for-bit; tests assert it."""
        from discogsography_spark.analysis import get_analyzer
        from discogsography_spark.query.engine import _lazy_verified_topk

        an = get_analyzer(self.base.meta.analyzer)
        ordered = an.tokenize_py(phrase)
        terms = sorted(set(ordered))
        if not ordered or k <= 0:
            return []
        st = self._merged_phrase_state(ordered)
        if st is None:
            return []
        cand, tf_by, dl0, merged, verify = st
        p = self.params
        if avgdl is None:
            avgdl = self.avgdl
        if idfs is None:
            idfs = {
                t: p.idf(self.n_docs, int(merged[t][0].size)) for t in terms
            }
        norm = p.k1 * (1.0 - p.b + p.b * (dl0.astype(np.float64) / avgdl))
        score = np.zeros(cand.shape, dtype=np.float64)
        for t in terms:
            tf = tf_by[t].astype(np.float64)
            score = score + idfs[t] * (tf / (tf + norm))
        score = np.round(score, 5)
        return _lazy_verified_topk(cand, score, verify, k, check=self._budget_check)


def _compact_marker_path(index_dir: str) -> str:
    return os.path.join(index_dir, "compact_commit.json")


def _segment_decode_schema(wp: bool, id_col: str = "old_doc_id"):
    return T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField(id_col, T.LongType(), False),
            T.StructField("tf", T.LongType(), False),
            T.StructField("dl", T.LongType(), False),
        ]
        # pos only exists in the stream when the index is positional — a
        # 45M-row all-None object column costs real Arrow conversion time
        + ([T.StructField("pos", T.ArrayType(T.LongType()), True)] if wp else [])
    )


def _segment_decode_rows(wp: bool, ctx: str, id_col: str = "old_doc_id"):
    """mapInPandas generator decoding SEGMENT_SCHEMA rows back to the flat
    (term, doc, tf, dl[, pos]) stream — shared by compact() (with an
    old→new docID remap join downstream) and consolidate_deltas() (ids
    stay absolute)."""

    def decode_rows(batches):
        # one output frame per ARROW BATCH (arrays concatenated once), not
        # per term row — a per-row DataFrame + concat costs O(vocab) pandas
        # framing and tripled compact wall-clock at sf0.25
        for pdf in batches:
            terms_l, ds, tfs_l, dls_l, pos_l = [], [], [], [], []
            for r in pdf.itertuples(index=False):
                d, tf = decode_postings(r.doc_blob, r.tf_blob)
                if not d.size:
                    continue
                terms_l.append(np.full(d.size, r.term, dtype=object))
                ds.append(d)
                tfs_l.append(tf)
                dls_l.append(varbyte_decode(r.dl_blob).astype(np.int64))
                if wp:
                    if not r.pos_blob:
                        raise ValueError(
                            f"{ctx}: term {r.term!r} has no positional "
                            "payload but the manifest says with_positions — "
                            "a delta written without positions would "
                            "silently break phrase queries; rebuild it"
                        )
                    pos_flat = varbyte_decode(r.pos_blob).astype(np.int64)
                    if pos_flat.size != int(tf.sum()):
                        raise ValueError(
                            f"{ctx}: term {r.term!r} positional stream "
                            f"length {pos_flat.size} != cf {int(tf.sum())}"
                        )
                    pos_l.extend(np.split(pos_flat, np.cumsum(tf)[:-1]))
            if not ds:
                continue
            frame = pd.DataFrame(
                {
                    "term": np.concatenate(terms_l),
                    id_col: np.concatenate(ds),
                    "tf": np.concatenate(tfs_l),
                    "dl": np.concatenate(dls_l),
                }
            )
            if wp:
                frame["pos"] = pos_l
            yield frame

    return decode_rows


def consolidate_deltas(spark: SparkSession, index_dir: str) -> int:
    """MINOR compaction (the LSM L0→L1 merge; Lucene's segment merge of
    the small tier): fold every committed delta into ONE consolidated
    delta, leaving the base untouched. Bounds the per-query delta-tail
    cost (scripts/delta_tail_sweep.py: merged AND p95 grows ~3.5× from
    tail depth 1 to 16) at a fraction of full compact()'s price — only
    the tail's postings are decoded/re-encoded, no base rewrite, no
    docID reassignment (delta docIDs are already absolute and
    delta-order == docID order, so per-term concatenation in delta order
    IS the sorted posting order).

    Semantics preserved exactly:
    - tombstones union into the consolidated delta (they may reference
      base OR delta ids; masking is positional-independent);
    - batch idempotence survives: the consolidated stats.json carries
      `folded_batch_ids`, and DeltaIndexWriter consults them, so a
      re-delivered folded batch stays a no-op;
    - crash-safe: the consolidated dir is invisible until its stats.json
      lands (the delta commit rule); its `replaces` list makes
      list_deltas drop the folded dirs the instant it commits, so a
      crash between commit and cleanup double-counts nothing. Cleanup of
      replaced dirs re-runs on the next consolidate/list.

    Returns the number of deltas folded (0 = nothing to do)."""
    deltas = list_deltas(index_dir)
    # also finish any prior consolidation's interrupted cleanup
    _cleanup_replaced_deltas(index_dir)
    if len(deltas) <= 1:
        return 0
    meta = IndexMeta(index_dir)
    wp = bool(meta.stats.get("with_positions", False))
    k1, b = meta.params.k1, meta.params.b
    block_size = int(meta.stats.get("block_size", BLOCK_SIZE))
    num_segments = meta.num_segments

    stats_l = []
    for d in deltas:
        with open(os.path.join(d, "stats.json")) as f:
            stats_l.append(json.load(f))
    n_docs = sum(int(s["n_docs"]) for s in stats_l)
    total_tokens = sum(int(s["total_tokens"]) for s in stats_l)
    folded_ids = sorted(
        {
            int(x)
            for s in stats_l
            for x in [s.get("batch_id"), *s.get("folded_batch_ids", [])]
            if x is not None
        }
    )
    names = [os.path.basename(d) for d in deltas]
    base_name = names[0].split("-c")[0]
    gen = 1 + max(
        (int(n.rsplit("-c", 1)[1]) for n in names if "-c" in n), default=0
    )
    final = os.path.join(_deltas_root(index_dir), f"{base_name}-c{gen}")
    tmp = final + "__tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(os.path.join(tmp, "segments"), exist_ok=True)

    # the stored block_max_tfnorm is a pruning HINT (exact scoring
    # re-derives tfnorm); use the current combined avgdl like write_batch
    n_comb, tt_comb = _combined_offsets(index_dir)
    avgdl_hint = tt_comb / n_comb if n_comb else 1.0

    seg_sources = [
        os.path.join(d, "segments", f"seg={s}")
        for d in deltas
        for s in range(num_segments)
        if os.path.isdir(os.path.join(d, "segments", f"seg={s}"))
    ]
    if seg_sources:
        cols = ["term", "doc_blob", "tf_blob", "dl_blob"] + (
            ["pos_blob"] if wp else []
        )
        shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        merged = (
            spark.read.parquet(*seg_sources)
            .select(*cols)
            .mapInPandas(
                _segment_decode_rows(wp, "consolidate", id_col="doc_id"),
                schema=_segment_decode_schema(wp, id_col="doc_id"),
            )
            .withColumn(
                "seg",
                (F.crc32(F.col("term")) % F.lit(num_segments)).cast("int"),
            )
            .repartition(shuffle_p, "term")
            .sortWithinPartitions("term", "doc_id")
            .mapInPandas(
                lambda it: _encode_sorted_stream(
                    it, k1, b, avgdl_hint, block_size,
                    with_positions=wp, pre_aggregated=True,
                ),
                schema=SEGMENT_SCHEMA,
            )
        )
        (
            merged.repartition(num_segments, "seg")
            .sortWithinPartitions("seg", "term")
            .write.mode("overwrite")
            .partitionBy("seg")
            .option("parquet.block.size", str(256 * 1024))
            .parquet(os.path.join(tmp, "segments"))
        )

    docs_srcs = [
        os.path.join(d, "docs") for d in deltas
        if os.path.isdir(os.path.join(d, "docs"))
    ]
    if docs_srcs:
        # a micro-batch whose payload column was ALL NULL stored it as
        # VOID; mergeSchema cannot reconcile VOID with a concrete type, so
        # union by name with each VOID column cast to the first concrete
        # type any sibling delta carries (string if none does)
        from functools import reduce

        from pyspark.sql.types import NullType, StringType

        frames = [spark.read.parquet(p) for p in docs_srcs]
        target: dict[str, object] = {}
        for fr in frames:
            for fld in fr.schema.fields:
                if not isinstance(fld.dataType, NullType):
                    target.setdefault(fld.name, fld.dataType)
        fixed = []
        for fr in frames:
            for fld in fr.schema.fields:
                if isinstance(fld.dataType, NullType):
                    fr = fr.withColumn(
                        fld.name,
                        F.col(fld.name).cast(
                            target.get(fld.name, StringType())
                        ),
                    )
            fixed.append(fr)
        (
            reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                fixed,
            )
            .write.mode("overwrite")
            .option("parquet.block.size", str(1024 * 1024))
            .parquet(os.path.join(tmp, "docs"))
        )
    tomb_srcs = [
        os.path.join(d, "tombstones.parquet") for d in deltas
        if os.path.exists(os.path.join(d, "tombstones.parquet"))
    ]
    n_tomb = 0
    if tomb_srcs:
        tp = os.path.join(tmp, "tombstones.parquet")
        spark.read.parquet(*tomb_srcs).write.mode("overwrite").parquet(tp)
        n_tomb = _parquet_nrows(tp)

    # mini-manifest PROMOTES the consolidated delta: LocalSearcher can open
    # it as a pruned leg (champion/block-max machinery over its re-encoded
    # segments) — MergedSearcher's fast paths then evaluate it like a
    # second base instead of exact-scoring its whole mass. `id_space`
    # tells dense docID-indexed structures the delta keeps ABSOLUTE ids.
    doc_offset_min = min(int(s["doc_offset"]) for s in stats_l)
    Manifest(tmp).commit_docs(
        {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "num_segments": num_segments,
            "block_size": block_size,
            "k1": k1,
            "b": b,
            "analyzer_name": meta.analyzer,
            "with_positions": wp,
            "id_space": doc_offset_min + n_docs,
        }
    )
    if os.path.isdir(final):
        shutil.rmtree(final)
    os.replace(tmp, final)
    # commit point: stats.json makes the consolidated delta visible AND
    # (via `replaces`) hides the folded dirs in the same atomic write
    _atomic_write_json(
        os.path.join(final, "stats.json"),
        {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "doc_offset": min(int(s["doc_offset"]) for s in stats_l),
            "folded_batch_ids": folded_ids,
            "replaces": names,
            "n_tombstoned": n_tomb,
        },
    )
    _cleanup_replaced_deltas(index_dir)
    return len(deltas)


def _cleanup_replaced_deltas(index_dir: str) -> None:
    """Remove delta dirs named in any committed consolidated delta's
    `replaces` — idempotent, re-run on every consolidate."""
    root = _deltas_root(index_dir)
    if not os.path.isdir(root):
        return
    replaced: set[str] = set()
    for name in os.listdir(root):
        sp = os.path.join(root, name, "stats.json")
        if name.startswith("delta-") and os.path.exists(sp):
            with open(sp) as f:
                replaced.update(json.load(f).get("replaces", []))
    for name in replaced:
        d = os.path.join(root, name)
        if os.path.isdir(d):
            shutil.rmtree(d)


def recover_compact(index_dir: str) -> bool:
    """Finish a crashed compact() swap. The commit marker is written only
    after the replacement segments/ and docs/ are FULLY staged, so every
    step here is an idempotent existence-guarded move; re-running after any
    crash point converges to the committed state. Returns True if a
    recovery was performed. Called on compact() start and MergedSearcher
    open (reader-side repair keeps _combined_offsets from double-counting
    deltas whose postings are already folded into the staged base)."""
    marker = _compact_marker_path(index_dir)
    if not os.path.exists(marker):
        return False
    with open(marker) as f:
        m = json.load(f)
    seg_root = os.path.join(index_dir, "segments")
    seg_tmp = seg_root + "__compact_tmp"
    docs_dir = os.path.join(index_dir, "docs")
    docs_tmp = docs_dir + "__compact_tmp"
    if os.path.isdir(seg_tmp):
        if os.path.isdir(seg_root):
            shutil.rmtree(seg_root)
        os.replace(seg_tmp, seg_root)
    if os.path.isdir(docs_tmp):
        if os.path.isdir(docs_dir):
            shutil.rmtree(docs_dir)
        os.replace(docs_tmp, docs_dir)
    Manifest(index_dir).commit_docs(m["stats"])
    for name in m["folded"]:
        d = os.path.join(_deltas_root(index_dir), name)
        if os.path.isdir(d):
            shutil.rmtree(d)
    os.remove(marker)
    return True


def compact(spark: SparkSession, index_dir: str) -> int:
    """Fold all committed deltas into the base segments (real per-term merge,
    not a rebuild). Returns the number of deltas folded.

    Determinism repair: docIDs are REASSIGNED to the dense rank over the
    union corpus's (conv_id, turn_idx) — the builder's contract
    (index/docids.py) — so the compacted index ranks identically to a fresh
    build even when micro-batches arrived out of conv_id order. The old→new
    map stays DISTRIBUTED: postings are decoded to per-posting rows, hash-
    joined with the (old_doc_id → doc_id) DataFrame, then re-encoded through
    the builder's sorted-stream encoder. No driver-side materialization and
    no dense broadcast array — at 10^12 docs an 8-bytes/doc broadcast would
    be terabytes; the join shuffles only what each task merges.

    Positional payloads (pos_blob) ride the same remap: positions are
    per-posting token offsets, so a docID reassignment never changes them —
    they are split per posting at decode and re-flattened in the new doc
    order at encode, keeping phrase queries exact across compactions.

    Crash safety (send-then-commit): both replacement directories are fully
    staged as *__compact_tmp, then ONE atomic commit marker records the new
    stats and the folded delta list; the destructive swap + manifest update
    + delta deletion all happen after the marker and are replayed by
    recover_compact() if interrupted. Readers ignore deltas named in the
    marker, so postings are never double-counted mid-swap.

    Skew note: unlike the builder (which salts per-occurrence groups), each
    (term) group here is a handful of pre-encoded blob rows; per-group work
    is O(df) vectorized decode/encode (~40 ms per million postings), so a
    head term is one bounded task and needs no salting. Writer mirrors the
    builder: sortWithinPartitions(seg, term) + small row groups so the
    serving dictionary keeps its one-row-group-per-term I/O pattern.
    """
    recover_compact(index_dir)
    deltas = list_deltas(index_dir)
    if not deltas:
        return 0
    meta = IndexMeta(index_dir)
    n_docs, total_tokens = _combined_offsets(index_dir)
    avgdl = total_tokens / n_docs if n_docs else 1.0
    k1, b = meta.params.k1, meta.params.b
    block_size = int(meta.stats["block_size"])
    num_segments = meta.num_segments

    docs_dir = os.path.join(index_dir, "docs")
    seg_root = os.path.join(index_dir, "segments")
    seg_tmp = seg_root + "__compact_tmp"
    docs_tmp = docs_dir + "__compact_tmp"
    for t in (seg_tmp, docs_tmp):
        if os.path.isdir(t):
            shutil.rmtree(t)

    # ---- stage 1: global docID reassignment over the union corpus ----
    delta_docs = [
        os.path.join(d, "docs") for d in deltas if os.path.isdir(os.path.join(d, "docs"))
    ]
    union_docs = (
        # mergeSchema: base and delta docmaps can carry different column
        # sets (e.g. the base has a token column deltas don't); ALL payload
        # columns (facet fields, stored text) must survive compaction — a
        # compacted index serves the same facets/highlights as the live
        # merged view
        spark.read.option("mergeSchema", "true").parquet(docs_dir, *delta_docs)
        # drop bookkeeping columns from a previous compact / quarantine
        # build (a stale old_doc_id would collide with the rename below)
        # and the token stream (rebuilt from postings, never read back)
        .drop("old_doc_id", "_quarantine_reason", "tokens")
        .withColumnRenamed("doc_id", "old_doc_id")
    )
    # tombstoned docs (deletes/upsert-replaced versions) are physically
    # dropped here: anti-join them out of the union docmap BEFORE the dense
    # reassignment — the postings remap below inner-joins on the
    # (old→new) map, so dead postings vanish without touching the blobs.
    # AQE broadcasts the dead side when small (the common case: deletes
    # accumulated since the last compact).
    tomb_paths = [
        os.path.join(d, "tombstones.parquet")
        for d in deltas
        if os.path.exists(os.path.join(d, "tombstones.parquet"))
    ]
    if tomb_paths:
        dead = (
            spark.read.parquet(*tomb_paths)
            .select(F.col("doc_id").alias("old_doc_id"))
            .distinct()
        )
        union_docs = union_docs.join(dead, "old_doc_id", "left_anti")
    from discogsography_spark.index.docids import doc_ids_assigned

    with doc_ids_assigned(union_docs) as new_docs:
        new_docs.write.mode("overwrite").option(
            "parquet.block.size", str(1024 * 1024)
        ).parquet(docs_tmp)
    map_df = spark.read.parquet(docs_tmp).select("old_doc_id", "doc_id")
    if tomb_paths:
        # stats must describe the ALIVE corpus the new base serves — and
        # avgdl feeds the re-encoded block-max hints below
        alive = spark.read.parquet(docs_tmp).agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("tt"),
        ).collect()[0]
        n_docs, total_tokens = int(alive["n"]), int(alive["tt"])
        avgdl = total_tokens / n_docs if n_docs else 1.0

    # ---- stage 2: distributed remap + per-term re-encode ----
    seg_dirs = [meta.seg_dir(s) for s in range(num_segments)]
    seg_dirs = [d for d in seg_dirs if os.path.isdir(d) and os.listdir(d)]
    sources = seg_dirs + [
        os.path.join(d, "segments", f"seg={s}")
        for d in deltas
        for s in range(num_segments)
        if os.path.isdir(os.path.join(d, "segments", f"seg={s}"))
    ]
    wp = bool(meta.stats.get("with_positions", False))
    cols = ["term", "doc_blob", "tf_blob", "dl_blob"] + (
        ["pos_blob"] if wp else []
    )
    rows = spark.read.parquet(*sources).select(*cols)

    decode_schema = _segment_decode_schema(wp)
    decode_rows = _segment_decode_rows(wp, "compact", id_col="old_doc_id")

    # remap join strategy: below ~16M docs the (old→new) map is ≲256 MB —
    # broadcast-hash join it (Spark's standard small-dim treatment; no full
    # shuffle of the posting stream on old_doc_id). Beyond that, fall back
    # to a plain equi join and let AQE pick the shuffle strategy — at 10^12
    # docs nothing may be broadcast, and the join is the scalable path.
    _BCAST_DOC_LIMIT = 16_000_000
    map_join = F.broadcast(map_df) if n_docs <= _BCAST_DOC_LIMIT else map_df

    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    merged = (
        rows.mapInPandas(decode_rows, schema=decode_schema)
        .join(map_join, "old_doc_id")
        .select(
            "term",
            "doc_id",
            "tf",
            "dl",
            *(["pos"] if wp else []),
            (F.crc32(F.col("term")) % F.lit(num_segments)).cast("int").alias("seg"),
        )
        .repartition(shuffle_p, "term")
        .sortWithinPartitions("term", "doc_id")
        .mapInPandas(
            lambda it: _encode_sorted_stream(
                it, k1, b, avgdl, block_size,
                with_positions=wp, pre_aggregated=True,
            ),
            schema=SEGMENT_SCHEMA,
        )
    )
    (
        merged.repartition(num_segments, "seg")
        .sortWithinPartitions("seg", "term")
        .write.mode("overwrite")
        .partitionBy("seg")
        .option("parquet.block.size", str(256 * 1024))
        .parquet(seg_tmp)
    )

    # ---- stage 3: single atomic commit, then the replayable swap ----
    stats = dict(meta.stats)
    stats["n_docs"] = n_docs
    stats["total_tokens"] = total_tokens
    _atomic_write_json(
        _compact_marker_path(index_dir),
        {"stats": stats, "folded": [os.path.basename(d) for d in deltas]},
    )
    recover_compact(index_dir)
    return len(deltas)
