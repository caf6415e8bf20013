"""Parallelism-independent docID assignment.

docID = dense rank over the global sort (conv_id ASC, turn_idx ASC) — the
"stable ordering" invariant of BASELINE.json's input_hint and the analog of
the reference's stable record IDs extracted at parse time
(/root/reference/extractor/src/parser.rs:183,222).

NOT `monotonically_increasing_id` (partition-dependent) and NOT a global
single-partition window. Instead the scalable two-pass zipWithIndex pattern:

1. range-repartition + sort-within-partitions on the key — partitions hold
   disjoint, ordered key ranges;
2. count rows per partition (cheap agg on the persisted partitioning);
3. broadcast the prefix-sum offsets; a narrow mapInPandas adds
   `offset[pid] + local_row_number`.

The result depends only on the global key order, never on partition
boundaries or core count — dense rank is invariant to where the range
splits fall. That is what makes N-core and 4N-core builds byte-identical.

Quarantine (quarantine=True) rides the SAME range-sort — zero extra shuffle
or scan: equal keys are co-located and adjacent after the sort, so
duplicate-key detection is a partition-local run check (with carry across
Arrow batch boundaries); NULL-key rows are diverted by a narrow filter
before the repartition (they have no place in a range partitioning).
Violating rows get doc_id = -1 and a `_quarantine_reason` instead of
poisoning the dense rank — the reference's DLQ pattern
(/root/reference/tableinator/tableinator.py:1132-1137).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

QUARANTINE_COL = "_quarantine_reason"


def _key_complete_frames(
    batches: Iterator[pd.DataFrame], key_cols: tuple[str, ...]
) -> Iterator[pd.DataFrame]:
    """Re-frame a partition's (key-sorted) Arrow batch stream so no key run
    spans a yielded frame: the trailing run of each batch is held back and
    prepended to the next (the _encode_sorted_stream carry pattern)."""
    hold: pd.DataFrame | None = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        merged = pdf if hold is None or len(hold) == 0 else pd.concat(
            [hold, pdf], ignore_index=True
        )
        last = merged.iloc[-1]
        eq_last = np.ones(len(merged), dtype=bool)
        for c in key_cols:
            eq_last &= (merged[c] == last[c]).to_numpy()
        cut = len(merged) - int(eq_last.sum())  # sorted → run is the tail
        if cut > 0:
            yield merged.iloc[:cut]
        hold = merged.iloc[cut:]
    if hold is not None and len(hold):
        yield hold


def assign_doc_ids(
    df: DataFrame,
    key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    with_tokens: bool = False,
    analyzer: str = "simple",
    quarantine: bool = False,
    keep_text: bool = False,
) -> DataFrame:
    """Return df + `doc_id` (long) = dense rank over key_cols.

    The input's key must be unique per row; with quarantine=False (default)
    violations make the rank ambiguous, with quarantine=True they are
    diverted: the output gains a `_quarantine_reason` column and violating
    rows ('null_key' / 'dup_key' — ALL rows of a duplicated key, since
    picking a winner among unordered duplicates is nondeterministic) carry
    doc_id = -1 while valid rows get the dense rank over the clean keys.

    with_tokens=True fuses tokenization (+ `tokens`, `dl` columns, `text`
    dropped unless keep_text=True — the serving-path highlight store) into
    the same Arrow pass — one Python stage for the whole
    docID+analyze step instead of two.
    """
    return _assign_doc_ids(
        df, key_cols, num_partitions, with_tokens, analyzer, quarantine,
        keep_text,
    )[0]


@contextmanager
def doc_ids_assigned(df: DataFrame, **kwargs) -> Iterator[DataFrame]:
    """assign_doc_ids(df, **kwargs) for the duration of a `with` block.

    The range-sorted input is persisted because the count pass and the
    id pass both read it; plain assign_doc_ids leaves it cached for the
    rest of the session. Here it is unpersisted when the block exits, so
    run every consumer of the result inside the block (a build writes the
    docmap there and re-reads the parquet afterwards)."""
    out, parted = _assign_doc_ids(df, **kwargs)
    try:
        yield out
    finally:
        parted.unpersist()


def _assign_doc_ids(
    df: DataFrame,
    key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    with_tokens: bool = False,
    analyzer: str = "simple",
    quarantine: bool = False,
    keep_text: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """assign_doc_ids' result and the persisted range-sorted frame it
    reads from."""
    spark = df.sparkSession
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    bad_null: DataFrame | None = None
    if quarantine:
        null_cond = F.col(key_cols[0]).isNull()
        for c in key_cols[1:]:
            null_cond = null_cond | F.col(c).isNull()
        bad_null = df.filter(null_cond)
        df = df.filter(~null_cond)

    parted = (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in key_cols])
        .sortWithinPartitions(*key_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if not quarantine:
        counts = {
            r["_pid"]: r["cnt"]
            for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        }
    else:
        # valid (non-duplicate-key) rows per partition, counted on the
        # sorted stream itself — keys only, no payload materialization
        key_list = list(key_cols)

        def count_valid(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pid = None
            n_valid = 0
            slim = (pdf[["_pid", *key_list]] for pdf in batches)
            for part in _key_complete_frames(slim, tuple(key_list)):
                pid = int(part["_pid"].iloc[0])
                n_valid += int((~part.duplicated(subset=key_list, keep=False)).sum())
            if pid is not None:
                yield pd.DataFrame({"_pid": [pid], "cnt": [n_valid]})

        counts = {
            r["_pid"]: r["cnt"]
            for r in parted.mapInPandas(
                count_valid, schema="_pid int, cnt long"
            ).collect()
        }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    boff = spark.sparkContext.broadcast(offsets)

    base_fields = [
        f
        for f in parted.schema.fields
        if not (with_tokens and not keep_text and f.name == "text")
    ]
    extra = [T.StructField("doc_id", T.LongType(), False)]
    if with_tokens:
        extra += [
            T.StructField("tokens", T.ArrayType(T.StringType()), False),
            T.StructField("dl", T.IntegerType(), False),
        ]
    if quarantine:
        extra.append(T.StructField(QUARANTINE_COL, T.StringType(), True))
    out_schema = T.StructType(base_fields + extra)
    out_cols = [f.name for f in out_schema.fields]
    key_list = list(key_cols)

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from discogsography_spark.analysis import get_analyzer

        an = get_analyzer(analyzer)
        local = 0
        frames = (
            _key_complete_frames(batches, tuple(key_list)) if quarantine else batches
        )
        for pdf in frames:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            start = boff.value[pid] + local
            pdf = pdf.copy()
            if quarantine:
                dup = pdf.duplicated(subset=key_list, keep=False).to_numpy()
                ids = np.full(len(pdf), -1, dtype=np.int64)
                n_valid = int((~dup).sum())
                ids[~dup] = np.arange(start, start + n_valid, dtype=np.int64)
                pdf["doc_id"] = ids
                pdf[QUARANTINE_COL] = np.where(dup, "dup_key", None)
                local += n_valid
            else:
                pdf["doc_id"] = range(start, start + len(pdf))
                local += len(pdf)
            if with_tokens:
                toks = an.tokenize_pandas(pdf["text"])
                pdf["tokens"] = toks
                pdf["dl"] = toks.map(len).astype("int32")
            yield pdf[out_cols]

    out = parted.mapInPandas(add_ids, schema=out_schema).drop("_pid")
    if quarantine and bad_null is not None:
        null_row = bad_null.withColumn("doc_id", F.lit(-1).cast("long"))
        if with_tokens:
            null_row = (
                null_row.withColumn(
                    "tokens", F.array().cast(T.ArrayType(T.StringType()))
                )
                .withColumn("dl", F.lit(0).cast("int"))
            )
            if not keep_text:
                null_row = null_row.drop("text")
        null_row = null_row.withColumn(QUARANTINE_COL, F.lit("null_key"))
        out = out.unionByName(
            null_row.select(*[c for c in out_cols if c != "_pid"])
        )
    return out, parted
