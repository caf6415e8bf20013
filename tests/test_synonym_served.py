"""Served synonym-aware search (`search(..., synonyms=)`) on all three
services: SynonymQuery ranking + matched-set facets/totals + drill-down +
pagination + group-member highlighting, identical across deployment shapes
(single index, sharded, live merged view)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from discogsography_spark.analysis import tokenize_py
from discogsography_spark.index.builder import IndexBuilder
from discogsography_spark.query.engine import LocalSearcher
from discogsography_spark.query.serving import SearchService

SYN = {"spark": ["stream", "batch"], "index": ["table"]}
Q = "spark index"


@pytest.fixture(scope="module")
def served(spark, corpus_dir, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("synsrvidx") / "idx")
    transcripts = spark.read.parquet(
        os.path.join(corpus_dir, "transcripts.parquet")
    )
    IndexBuilder(idx, num_segments=4, store_text=True).build(transcripts)
    svc = SearchService(idx, facet_defs={"role": "role", "tool": "tool"})
    tdf = pd.read_parquet(os.path.join(corpus_dir, "transcripts.parquet"))
    tdf = tdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    tdf["doc_id"] = range(len(tdf))
    return svc, tdf, idx


def _syn_matched_pdf(tdf: pd.DataFrame, q: str, syn: dict) -> pd.DataFrame:
    """Brute-force SynonymQuery matched set: every group (term + its
    synonyms) has >=1 member token present."""
    groups = [
        {t, *(x for s in syn.get(t, ()) for x in tokenize_py(s))}
        for t in dict.fromkeys(tokenize_py(q))
    ]
    toks = tdf["text"].map(lambda t: set(tokenize_py(t)))
    m = toks.map(lambda s: all(s & g for g in groups))
    return tdf[m]


def test_served_matches_engine_and_scan(served):
    svc, tdf, idx = served
    resp = svc.search(Q, k=10, synonyms=SYN, facets=["role", "tool"])
    want = LocalSearcher(idx).topk_synonym(Q, 10, SYN)
    assert resp.results == want and resp.results
    expected = _syn_matched_pdf(tdf, Q, SYN)
    assert resp.total_matched == len(expected)
    for fname in ("role", "tool"):
        labels = expected[fname].astype("string").fillna("(none)")
        assert dict(resp.facets[fname]) == labels.groupby(labels).size().to_dict()


def test_served_empty_synonyms_equals_plain_and(served):
    svc, _, _ = served
    a = svc.search(Q, k=10, synonyms={}, facets=["role"])
    b = svc.search(Q, k=10, facets=["role"])
    assert a.results == b.results
    assert a.total_matched == b.total_matched
    assert a.facets == b.facets


def test_served_synonym_rescue_widens_match(served):
    """A synonym dictionary can only widen the matched set; an absent
    query term rescued by a present synonym matches via the synonym."""
    svc, tdf, _ = served
    plain = svc.search(Q, k=5)
    wide = svc.search(Q, k=5, synonyms=SYN)
    assert wide.total_matched >= plain.total_matched
    rescued = svc.search("zzqqneverseen merge", k=5,
                         synonyms={"zzqqneverseen": ["spark"]})
    assert rescued.total_matched == len(
        _syn_matched_pdf(tdf, "spark merge", {})
    )
    assert svc.search("zzqqneverseen merge", k=5).total_matched == 0


def test_served_drilldown_scores_unchanged(served):
    svc, tdf, _ = served
    full = svc.search(Q, k=10**6, synonyms=SYN)
    full_scores = dict(full.results)
    resp = svc.search(Q, k=10, synonyms=SYN, filter={"role": "assistant"},
                      facets=["tool"])
    expected = _syn_matched_pdf(tdf, Q, SYN)
    expected = expected[expected["role"] == "assistant"]
    assert resp.total_matched == len(expected) > 0
    assert resp.total_matched < full.total_matched
    for doc, score in resp.results:
        assert score == full_scores[doc]
    tool_labels = expected["tool"].astype("string").fillna("(none)")
    assert dict(resp.facets["tool"]) == (
        tool_labels.groupby(tool_labels).size().to_dict()
    )
    assert svc.search(Q, 5, synonyms=SYN,
                      filter={"role": "nope"}).total_matched == 0
    with pytest.raises(ValueError):
        svc.search(Q, 5, synonyms=SYN, filter={"bogus": "x"})


def test_served_pagination_offset_and_cursor(served):
    svc, _, _ = served
    full = svc.search(Q, k=30, synonyms=SYN).results
    assert len(full) >= 6
    page2 = svc.search(Q, k=3, synonyms=SYN, offset=3)
    assert page2.results == full[3:6]
    p1 = svc.search(Q, k=3, synonyms=SYN)
    assert p1.next_after == (p1.results[-1][1], p1.results[-1][0])
    p2 = svc.search(Q, k=3, synonyms=SYN, search_after=p1.next_after)
    assert p2.results == full[3:6]


def test_served_highlights_synonym_members(served):
    """Headlines mark GROUP members, not just the literal query terms —
    a doc matched via 'stream' gets <mark>stream</mark>."""
    svc, _, _ = served
    resp = svc.search(Q, k=20, synonyms=SYN, highlight=True)
    assert resp.headlines and set(resp.headlines) == {
        d for d, _ in resp.results
    }
    members = {"spark", "stream", "batch", "index", "table"}
    marked = {
        frag.split(">>")[0]
        for h in resp.headlines.values()
        for frag in h.split("<<")[1:]
    }
    assert marked and {tokenize_py(m)[0] for m in marked} <= members
    # at least one headline marks a non-literal synonym member
    assert any(
        tokenize_py(m)[0] in {"stream", "batch", "table"} for m in marked
    )


def test_served_synonym_mode_and_fuzzy_guards(served):
    svc, _, _ = served
    with pytest.raises(ValueError):
        svc.search(Q, 5, synonyms=SYN, mode="or")
    with pytest.raises(ValueError):
        svc.search(Q, 5, synonyms=SYN, mode="bool")
    with pytest.raises(ValueError):
        svc.search(Q, 5, synonyms=SYN, fuzzy=True)


@pytest.fixture(scope="module")
def sharded_served(spark, tmp_path_factory):
    from discogsography_spark.corpus import make_transcripts

    d = tmp_path_factory.mktemp("synshsrv")
    tdf = make_transcripts(n_conversations=100, mean_turns=6, vocab_size=400)
    convs = sorted(tdf["conv_id"].unique())
    full_p = str(d / "full.parquet")
    tdf.to_parquet(full_p, index=False)
    full_idx = str(d / "full_idx")
    IndexBuilder(full_idx, num_segments=4, store_text=True).build(
        spark.read.parquet(full_p)
    )
    shard_dirs = []
    mid = convs[len(convs) // 2]
    for i, m in enumerate([tdf["conv_id"] < mid, tdf["conv_id"] >= mid]):
        p = str(d / f"s{i}.parquet")
        tdf[m].to_parquet(p, index=False)
        idx = str(d / f"s{i}_idx")
        IndexBuilder(idx, num_segments=2, store_text=True).build(
            spark.read.parquet(p)
        )
        shard_dirs.append(idx)
    return full_idx, shard_dirs


def test_sharded_synonym_response_equals_single(sharded_served):
    from discogsography_spark.query.serving import ShardedSearchService

    full_idx, shard_dirs = sharded_served
    defs = {"role": "role", "tool": "tool"}
    single = SearchService(full_idx, facet_defs=defs)
    sharded = ShardedSearchService(shard_dirs, facet_defs=defs)
    cases = [
        ("turn spark", {"spark": ["stream", "batch"]}),
        ("merge", {"merge": ["join", "zzqqneverseen"]}),
        ("index query", {"index": ["table"], "query": ["scan", "filter"]}),
    ]
    for q, syn in cases:
        a = single.search(q, k=10, synonyms=syn, facets=["role", "tool"],
                          highlight=True)
        b = sharded.search(q, k=10, synonyms=syn, facets=["role", "tool"],
                           highlight=True)
        assert a.results == b.results, q
        assert a.total_matched == b.total_matched, q
        assert a.facets == b.facets, q
        assert a.headlines == b.headlines, q
        # drill-down parity (restrict fan-out path)
        af = single.search(q, k=10, synonyms=syn, filter={"role": "user"},
                           facets=["tool"])
        bf = sharded.search(q, k=10, synonyms=syn, filter={"role": "user"},
                            facets=["tool"])
        assert af.results == bf.results, q
        assert af.total_matched == bf.total_matched, q
        assert af.facets == bf.facets, q
        # pagination parity
        ap = single.search(q, k=4, synonyms=syn, offset=2)
        bp = sharded.search(q, k=4, synonyms=syn, offset=2)
        assert ap.results == bp.results, q


def test_merged_synonym_response_equals_fresh(spark, tmp_path_factory):
    """Live view (in-order deltas) served synonym response == fresh
    whole-corpus single-index response, full shape."""
    from discogsography_spark.corpus import make_transcripts
    from discogsography_spark.query.serving import MergedSearchService
    from discogsography_spark.streaming.incremental import DeltaIndexWriter

    d = tmp_path_factory.mktemp("synmrgsrv")
    tdf = make_transcripts(n_conversations=90, mean_turns=6, vocab_size=300)
    convs = sorted(tdf["conv_id"].unique())
    base_p = str(d / "base.parquet")
    tdf[tdf["conv_id"].isin(convs[:30])].to_parquet(base_p, index=False)
    idx = str(d / "idx")
    IndexBuilder(idx, num_segments=2, store_text=True).build(
        spark.read.parquet(base_p)
    )
    writer = DeltaIndexWriter(idx)
    for i, cs in enumerate([convs[30:60], convs[60:]]):  # IN order
        p = str(d / f"c{i}.parquet")
        tdf[tdf["conv_id"].isin(cs)].to_parquet(p, index=False)
        writer.write_batch(spark.read.parquet(p), i)
    fresh_p = str(d / "union.parquet")
    tdf.to_parquet(fresh_p, index=False)
    fresh_idx = str(d / "fresh")
    IndexBuilder(fresh_idx, num_segments=2, store_text=True).build(
        spark.read.parquet(fresh_p)
    )

    defs = {"role": "role", "tool": "tool"}
    fresh = SearchService(fresh_idx, facet_defs=defs)
    live = MergedSearchService(idx, facet_defs=defs)
    for q, syn in [
        ("turn spark", {"spark": ["stream", "batch"]}),
        ("merge", {"merge": ["join"]}),
        ("index query", {"index": ["table"], "query": ["scan"]}),
    ]:
        a = fresh.search(q, 10, synonyms=syn, facets=["role", "tool"],
                         highlight=True)
        b = live.search(q, 10, synonyms=syn, facets=["role", "tool"],
                        highlight=True)
        assert a.results == b.results, q
        assert a.total_matched == b.total_matched, q
        assert a.facets == b.facets, q
        assert a.headlines == b.headlines, q
        af = fresh.search(q, 10, synonyms=syn, filter={"role": "user"})
        bf = live.search(q, 10, synonyms=syn, filter={"role": "user"})
        assert af.results == bf.results, q
        assert af.total_matched == bf.total_matched, q
        ap = fresh.search(q, k=3, synonyms=syn, offset=3)
        bp = live.search(q, k=3, synonyms=syn, offset=3)
        assert ap.results == bp.results, q


def _rare_token(tdf: pd.DataFrame, max_df: int) -> str:
    """The rarest vocabulary token with 1 <= df <= max_df (ties by token):
    a synonym member that rare keeps a group off the dense synonym path."""
    df: dict[str, int] = {}
    for t in tdf["text"]:
        for tok in set(tokenize_py(t)):
            df[tok] = df.get(tok, 0) + 1
    return min(
        (n, tok) for tok, n in df.items() if 1 <= n <= max_df
    )[1]


def _range_matched(tdf: pd.DataFrame, q: str, syn: dict, lo: int, hi: int) -> int:
    m = _syn_matched_pdf(tdf, q, syn)
    return int(m["turn_idx"].between(lo, hi).sum())


def test_rare_synonym_member_with_range_filter(served, sharded_served):
    """A group with a rare member (df·64 < id_space) takes the general
    relations path; a numeric (lo, hi) range filter must apply there on
    every service, giving the brute-force range-restricted total."""
    from discogsography_spark.corpus import make_transcripts
    from discogsography_spark.query.serving import (
        MergedSearchService,
        ShardedSearchService,
    )

    svc, tdf, idx = served
    rare = _rare_token(tdf, len(tdf) // 64 - 1)
    q, syn = f"{rare} index", {rare: ["spark"]}
    want = _range_matched(tdf, q, syn, 0, 3)
    assert 0 < want < len(_syn_matched_pdf(tdf, q, syn))
    for service in (svc, MergedSearchService(idx)):
        resp = service.search(q, k=5, synonyms=syn, filter={"turn_idx": (0, 3)})
        assert resp.total_matched == want, type(service).__name__

    full_idx, shard_dirs = sharded_served
    stdf = make_transcripts(n_conversations=100, mean_turns=6, vocab_size=400)
    rare = _rare_token(stdf, len(stdf) // 128 - 1)
    q, syn = f"{rare} turn", {rare: ["spark"]}
    want = _range_matched(stdf, q, syn, 1, 4)
    assert want > 0
    sharded = ShardedSearchService(shard_dirs)
    try:
        for service in (SearchService(full_idx), sharded):
            resp = service.search(q, k=5, synonyms=syn, filter={"turn_idx": (1, 4)})
            assert resp.total_matched == want, type(service).__name__
    finally:
        sharded.close()
