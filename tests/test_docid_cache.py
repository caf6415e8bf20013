"""DocID assignment persists the range-sorted corpus for its two passes.
Index builds (both docmap branches), micro-batch writes and compaction
must release it: the session holds as many persisted RDDs afterwards as
before."""

from __future__ import annotations

import pytest

from discogsography_spark.corpus import make_transcripts
from discogsography_spark.index.builder import IndexBuilder
from discogsography_spark.streaming.incremental import DeltaIndexWriter, compact


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("quarantine", [True, False])
def test_build_and_write_batch_release_docid_cache(spark, tmp_path, quarantine):
    tdf = make_transcripts(n_conversations=24, mean_turns=4, vocab_size=120)
    convs = sorted(tdf["conv_id"].unique())
    base_p, batch_p = str(tmp_path / "base.parquet"), str(tmp_path / "b.parquet")
    tdf[tdf["conv_id"].isin(convs[:16])].to_parquet(base_p, index=False)
    tdf[tdf["conv_id"].isin(convs[16:])].to_parquet(batch_p, index=False)
    idx = str(tmp_path / "idx")

    before = _persisted(spark)
    IndexBuilder(idx, num_segments=2, quarantine=quarantine).build(
        spark.read.parquet(base_p)
    )
    assert _persisted(spark) == before
    DeltaIndexWriter(idx).write_batch(spark.read.parquet(batch_p), 0)
    assert _persisted(spark) == before
    compact(spark, idx)
    assert _persisted(spark) == before
