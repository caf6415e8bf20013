"""More-like-this (query/mlt.py): Lucene MoreLikeThis semantics — top
tf·idf source terms → disjunctive BM25, source excluded — checked against
an independent python recomputation and for bit-identity across the
single, sharded, DataFrame, and live merged paths."""

from __future__ import annotations

from collections import Counter

import pandas as pd
import pytest

from discogsography_spark.analysis import tokenize_py
from discogsography_spark.corpus import make_transcripts
from discogsography_spark.index.builder import IndexBuilder
from discogsography_spark.oracle import build_oracle_index
from discogsography_spark.params import BM25Params
from discogsography_spark.query.mlt import select_mlt_terms
from discogsography_spark.query.serving import SearchService


def test_select_mlt_terms_unit():
    p = BM25Params()
    toks = ["a", "a", "b", "c", "rare"]
    dfs = {"a": 10, "b": 5, "c": 100, "rare": 1}
    got = select_mlt_terms(toks, dfs, 100, p, max_terms=2, min_df=2)
    # rare drops (minDocFreq: df < 2); c drops (maxDocFreq: df 100 > 25%
    # of 100 docs) — verify the survivors against the explicit formula
    import math

    score = {
        t: round(tf * p.idf(100, dfs[t]), 5)
        for t, tf in Counter(toks).items()
        if 2 <= dfs[t] <= 0.25 * 100
    }
    want = sorted(score, key=lambda t: (-score[t], t))[:2]
    assert got == want
    wide = select_mlt_terms(toks, dfs, 100, p, max_terms=4)
    assert "rare" not in wide and "c" not in wide
    assert math.isfinite(score["a"])


@pytest.fixture(scope="module")
def mlt_setup(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("mlt")
    tdf = make_transcripts(n_conversations=100, mean_turns=6, vocab_size=300)
    p = str(d / "t.parquet")
    tdf.to_parquet(p, index=False)
    idx = str(d / "idx")
    IndexBuilder(idx, num_segments=2, store_text=True).build(
        spark.read.parquet(p)
    )
    svc = SearchService(idx)
    tdf = tdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    tdf["doc_id"] = range(len(tdf))
    oracle = build_oracle_index(
        list(zip(tdf["conv_id"], tdf["turn_idx"], tdf["text"]))
    )
    return svc, tdf, oracle, str(d)


def _brute_mlt(
    oracle, source_id: int, k: int, max_terms=8, min_df=2, max_df_frac=0.25
):
    """Independent python recomputation over the oracle index."""
    p = oracle.params
    toks = oracle.doc_tokens[source_id]
    score = {}
    for t, tf in Counter(toks).items():
        df = oracle.df(t)
        if min_df <= df <= max_df_frac * oracle.n_docs:
            score[t] = round(tf * p.idf(oracle.n_docs, df), 5)
    sel = sorted(score, key=lambda t: (-score[t], t))[:max_terms]
    cands = set()
    for t in sel:
        cands.update(oracle.postings[t])
    out = []
    for d in cands:
        if d == source_id:
            continue
        norm = p.k1 * (
            1.0 - p.b + p.b * (oracle.doc_len[d] / oracle.avgdl)
        )
        s = 0.0
        for t in sorted(sel):
            tf = oracle.postings[t].get(d)
            if tf is not None:
                s += p.idf(oracle.n_docs, oracle.df(t)) * (
                    float(tf) / (float(tf) + norm)
                )
        out.append((d, s))
    out.sort(key=lambda ds: (-ds[1], ds[0]))
    return out[:k]


@pytest.mark.parametrize("source_id", [0, 17, 101])
def test_mlt_matches_brute(mlt_setup, source_id):
    svc, _tdf, oracle, _d = mlt_setup
    want = _brute_mlt(oracle, source_id, k=10)
    got = svc.more_like_this(source_id, k=10)
    assert want, "fixture must select terms (guard should not empty it)"
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-12)
    assert all(d != source_id for d, _ in got)


def test_mlt_sharded_identical(mlt_setup, spark, tmp_path_factory):
    from discogsography_spark.query.serving import ShardedSearchService

    svc, tdf, _oracle, _d = mlt_setup
    d = tmp_path_factory.mktemp("mlt_shards")
    convs = sorted(tdf["conv_id"].unique())
    mid = convs[len(convs) // 2]
    dirs = []
    for i, m in enumerate([tdf["conv_id"] < mid, tdf["conv_id"] >= mid]):
        p = str(d / f"s{i}.parquet")
        tdf[m].drop(columns=["doc_id"]).to_parquet(p, index=False)
        idx = str(d / f"s{i}_idx")
        IndexBuilder(idx, num_segments=2, store_text=True).build(
            spark.read.parquet(p)
        )
        dirs.append(idx)
    sh = ShardedSearchService(dirs, parallel=False)
    try:
        for src in (0, 17, 101):
            single = svc.more_like_this(src, k=10)
            sharded = sh.more_like_this(src, k=10)
            assert [d_ for d_, _ in sharded] == [d_ for d_, _ in single]
            for (gd, gs), (wd, ws) in zip(sharded, single):
                assert gs == ws
    finally:
        sh.close()


def test_mlt_dataframe_mirror(mlt_setup, spark):
    from discogsography_spark.query.dataframe_bm25 import (
        more_like_this_dataframe,
    )

    svc, tdf, _oracle, _d = mlt_setup
    docs = spark.createDataFrame(tdf[["doc_id", "text"]])
    rows = more_like_this_dataframe(docs, 17, k=10).collect()
    served = svc.more_like_this(17, k=10)
    assert [r["doc_id"] for r in rows] == [d for d, _ in served]
    for r, (_d2, s) in zip(rows, served):
        assert r["score"] == pytest.approx(round(s, 5), abs=1e-9)


def test_mlt_merged_live_alive_semantics(spark, tmp_path_factory):
    from discogsography_spark.query.serving import MergedSearchService
    from discogsography_spark.streaming.incremental import DeltaIndexWriter

    d = tmp_path_factory.mktemp("mlt_live")
    tdf = make_transcripts(n_conversations=60, mean_turns=5, vocab_size=200)
    tdf = tdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    convs = sorted(tdf["conv_id"].unique())
    base_p = str(d / "base.parquet")
    tdf.to_parquet(base_p, index=False)
    idx = str(d / "idx")
    IndexBuilder(idx, num_segments=2, store_text=True).build(
        spark.read.parquet(base_p)
    )
    w = DeltaIndexWriter(idx)
    dead = convs[5:10]
    w.write_deletes(
        spark.createDataFrame(pd.DataFrame({"conv_id": dead})), 0
    )

    alive = tdf[~tdf["conv_id"].isin(dead)]
    ref_p = str(d / "alive.parquet")
    alive.to_parquet(ref_p, index=False)
    ref_idx = str(d / "ref_idx")
    IndexBuilder(ref_idx, num_segments=2, store_text=True).build(
        spark.read.parquet(ref_p)
    )

    live = MergedSearchService(idx)
    ref = SearchService(ref_idx)
    # pick an alive source; map doc ids across the two id spaces by
    # (conv_id, turn_idx)
    live_pdf = live._docs_pdf(["conv_id", "turn_idx"]).set_index("doc_id")
    ref_pdf = ref._docs_pdf(["conv_id", "turn_idx"]).set_index("doc_id")
    src_key = (alive.iloc[0]["conv_id"], int(alive.iloc[0]["turn_idx"]))
    live_src = next(
        int(i) for i, r in live_pdf.iterrows()
        if (r["conv_id"], int(r["turn_idx"])) == src_key
    )
    ref_src = next(
        int(i) for i, r in ref_pdf.iterrows()
        if (r["conv_id"], int(r["turn_idx"])) == src_key
    )
    lv = live.more_like_this(live_src, k=10)
    rf = ref.more_like_this(ref_src, k=10)
    # identical neighbor TURNS with identical scores (alive stats)
    lv_keys = [
        (live_pdf.loc[d]["conv_id"], int(live_pdf.loc[d]["turn_idx"]), round(s, 9))
        for d, s in lv
    ]
    rf_keys = [
        (ref_pdf.loc[d]["conv_id"], int(ref_pdf.loc[d]["turn_idx"]), round(s, 9))
        for d, s in rf
    ]
    assert lv_keys == rf_keys
    # no neighbor from a deleted conversation
    assert not {c for c, _t, _s in lv_keys} & set(dead)
