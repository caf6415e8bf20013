"""Full search-response serving: top-k + facets over the matched set +
highlights, from ONE index probe.

The reference's search endpoint returns results AND type/genre/decade facet
counts in a single request (/root/reference/api/queries/search_queries.py:
274-354,410-416) plus ts_headline highlights (:144). LocalSearcher returns
bare (doc_id, score); this module adds the response shape around it:

- **matched set** — the exact conjunctive (or union) docID set, computed from
  the SAME postings the ranker reads: decode the rarest term once, probe the
  rest (no scoring, no block-max — facets need the whole set). O(df_min).
- **facets** — categorical doc attributes are factorized ONCE at service
  init into dense code arrays indexed by docID (docIDs are the dense rank,
  so lookup is plain array indexing); per-query counting is one
  np.bincount over the matched ids — O(|matched|), zero per-query I/O.
- **highlights** — ts_headline analog for the top-k docs only (O(k) text
  lookups): every analyzed query token is wrapped `<<tok>>` with the exact
  regexp the DataFrame-path entry uses, so the two paths are contractually
  identical. Text comes from the docmap when the index was built with
  IndexBuilder(store_text=True); otherwise pass `text_lookup(doc_id) -> str`
  (at warehouse scale the payload lives in the source table — the
  reference's pattern, where PostgreSQL holds the document body).

Scale note: the facet code arrays cost a few bytes/doc/field on the serving
node. Sharded serving (query/sharded.py) splits the docmap with the index,
so per-shard facet arrays stay bounded; global facet counts are the SUM of
per-shard counts (exact — counts are additive over disjoint shards).

Three services share this shape. `SearchService` serves one static index
and holds every response method. `MergedSearchService` is its live-view
subclass — the same service over base + delta tail + a tombstone mask —
and overrides only the view primitives: opening the MergedSearcher and
`reopen()` (which reloads the view state), the docmap directory list
(`_docmap_dirs`: base plus every delta), `matched_docs` /
`matched_docs_synonym`, `_score_matched`, the significant-terms postings
source (`_term_docs`), the tombstoned-id array (`_dead_ids`, empty for a
static index), `grouped_topk` (full-depth evaluator ranking) and the top-k
dispatch shared by `search` and `collapse` (`_search_topk`).
`ShardedSearchService` is a coordinator over one of those per shard.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

from discogsography_spark.analysis import get_analyzer
from discogsography_spark.query.engine import (
    LocalSearcher,
    QueryBudgetExceeded,
    _after_mask,
)


@dataclass
class SearchResponse:
    results: list[tuple[int, float]]
    total_matched: int
    facets: dict[str, list[tuple[str, int]]] = field(default_factory=dict)
    headlines: dict[int, str] = field(default_factory=dict)
    rewrites: dict[str, str] = field(default_factory=dict)  # did-you-mean
    # search_after cursor for the NEXT page — (score, doc_id) of this
    # page's last hit (global doc_id on the sharded service); None when
    # the page is empty (the ranking is exhausted)
    next_after: tuple[float, int] | None = None
    # metric aggregations over the MATCHED set (the Elasticsearch `stats`
    # aggregation shape): field → {count, min, max, sum, avg}; count is
    # non-null matched docs, min/max/avg None when count == 0
    stats: dict[str, dict[str, float | int | None]] = field(
        default_factory=dict
    )


_NULL_FACET = "(none)"

# the dead-id set of a static index (SearchService._dead_ids)
_NO_DEAD = np.empty(0, dtype=np.int64)

# docmap point-lookup row cache budget (the Lucene stored-fields-cache
# analog): decoded (doc_id, tokens) row groups kept per service instance
_DOCMAP_CACHE_BUDGET = 256 * 1024 * 1024


def _docmap_tokens_lookup(svc, docs_dir: str, doc_id: int) -> list[str]:
    """Point-lookup of one doc's token stream from the columnar docmap,
    through a byte-budgeted LRU of decoded row groups. Cold cost is one
    row-group decode (~0.4 s at 12M docs); any doc in an already-decoded
    group answers in ~1 ms — the doc-store row-cache pattern a serving
    node runs next to its stored-fields file.

    Column-aware: the base docmap stores `tokens`; DELTA docmaps drop
    tokens but carry the batch's payload columns (incremental.py:310), so
    a delta/compacted row with no token stream re-analyzes its `text`
    with the index analyzer (bit-identical — the build tokenizes with the
    same analyzer). A row with neither yields []."""
    import pyarrow.dataset as ds

    dsets = svc._mlt_dsets
    dset = dsets.get(docs_dir)
    if dset is None:
        dset = dsets[docs_dir] = ds.dataset(docs_dir, format="parquet")
    names = dset.schema.names
    cols = ["doc_id"] + [c for c in ("tokens", "text") if c in names]
    if len(cols) == 1:
        return []
    pred = ds.field("doc_id") == doc_id
    cache = svc._mlt_rg_cache
    for frag in dset.get_fragments(filter=pred):
        for rg in frag.split_by_row_group(pred):
            key = (rg.path, rg.row_groups[0].id)
            hit = cache.get(key)
            if hit is None:
                tbl = rg.to_table(columns=cols)
                hit = (tbl.column("doc_id").to_numpy(), tbl, tbl.nbytes)
                cache[key] = hit
                svc._mlt_rg_bytes += tbl.nbytes
                while svc._mlt_rg_bytes > _DOCMAP_CACHE_BUDGET and len(cache) > 1:
                    _k = next(iter(cache))
                    svc._mlt_rg_bytes -= cache.pop(_k)[2]
            else:
                # recency bump (insertion-ordered dict as LRU)
                cache[key] = cache.pop(key)
            ids, tbl, _nb = hit
            at = np.flatnonzero(ids == doc_id)
            if at.size:
                i = int(at[0])
                if "tokens" in cols[1:]:
                    toks = tbl.column("tokens")[i].as_py()
                    if toks is not None:
                        return list(toks)
                if "text" in cols[1:]:
                    text = tbl.column("text")[i].as_py()
                    if text is not None:
                        return svc._an.tokenize_py(str(text))
                return []
    return []


def fragment_headline(
    text: str,
    terms: list[str],
    max_fragments: int = 3,
    radius: int = 30,
) -> str:
    """ts_headline FRAGMENT mode (PostgreSQL's MaxFragments/MinWords family,
    search_queries.py:144): instead of marking up the whole document, return
    up to `max_fragments` windowed snippets joined by ' ... '.

    Deterministic, SQL-expressible contract (the DuckDB oracle mirrors it
    byte-for-byte): for each of the first `max_fragments` SORTED query terms
    present in the text (case-sensitive substring — the whole-text
    headline's matching rule), take the fixed-length character window
    `substr(text, max(1, first_pos - radius), len(term) + 2*radius)` around
    the term's FIRST occurrence, then wrap every query-term occurrence
    inside the window with `<<...>>` exactly like the whole-text mode.
    No term present → empty string."""
    ordered = sorted({t for t in terms if t})
    present = [t for t in ordered if t in text]
    frags = []
    for t in present[:max_fragments]:
        s = text.index(t)  # first occurrence, 0-based
        start = max(0, s - radius)
        frag = text[start : start + len(t) + 2 * radius]
        for tt in ordered:
            frag = re.sub(f"({re.escape(tt)})", r"<<\1>>", frag)
        frags.append(frag)
    return " ... ".join(frags)


def cover_fragments(
    text: str,
    terms: list[str],
    max_fragments: int = 2,
    max_words: int = 12,
) -> str:
    """ts_headline FRAGMENT mode with PostgreSQL's COVER-DENSITY selection
    (the mark_hl_fragments algorithm family behind MaxFragments,
    search_queries.py:144): fragments are the tightest word windows that
    contain ALL present query terms, not per-term windows.

    Deterministic word-level contract, mirrored byte-for-byte by the
    `fts_headline_cover` Spark entry and its DuckDB oracle:

    - words = text.split(' ') (single-space split; runs of spaces yield
      empty words that keep positions stable and never match a term);
      word positions are 1-based.
    - word w matches term t iff t is a substring of w (the case-sensitive
      substring rule every highlight mode here uses).
    - present terms = sorted distinct query terms matching >= 1 word;
      none present -> ''.
    - candidate covers: for each position e matching at least one present
      term where every present term has an occurrence <= e, the cover is
      [min over terms of lastocc_t(e), e] — the tightest window ENDING at
      e that contains all present terms (PostgreSQL's cover enumeration).
    - selection: greedily take up to max_fragments covers in
      (width ASC, start ASC, end ASC) order, skipping any cover that
      overlaps an already-chosen one; render in document order.
    - rendering [s, e]: target = max(width, max_words); pad the left by
      (target - width) // 2 words (clamped at position 1; the unused left
      pad flows right), then extend right to target total words (clamped
      at n, with no second left re-extension — covers wider than
      max_words render whole, untrimmed). Join the window's words with
      ' ', wrap every occurrence of every present term with <<...>> in
      sorted term order, join fragments with ' ... '.
    """
    ordered = sorted({t for t in terms if t})
    words = text.split(" ")
    n = len(words)
    occ: dict[str, list[int]] = {
        t: [i + 1 for i, w in enumerate(words) if t in w] for t in ordered
    }
    present = [t for t in ordered if occ[t]]
    if not present:
        return ""
    # tightest cover ending at each candidate end position
    last = {t: 0 for t in present}
    its = {t: 0 for t in present}
    ends = sorted({p for t in present for p in occ[t]})
    covers: list[tuple[int, int, int]] = []  # (width, s, e)
    for e in ends:
        for t in present:
            lst = occ[t]
            i = its[t]
            while i < len(lst) and lst[i] <= e:
                last[t] = lst[i]
                i += 1
            its[t] = i
        if all(last[t] for t in present):
            s = min(last[t] for t in present)
            covers.append((e - s + 1, s, e))
    if not covers:
        return ""
    chosen: list[tuple[int, int]] = []
    for _w, s, e in sorted(covers):
        if len(chosen) >= max_fragments:
            break
        if all(e < cs or s > ce for cs, ce in chosen):
            chosen.append((s, e))
    frags = []
    for s, e in sorted(chosen):
        width = e - s + 1
        target = max(width, max_words)
        s2 = max(1, s - (target - width) // 2)
        e2 = min(n, s2 + target - 1)
        frag = " ".join(words[s2 - 1 : e2])
        for t in ordered:
            frag = re.sub(f"({re.escape(t)})", r"<<\1>>", frag)
        frags.append(frag)
    return " ... ".join(frags)


def _facet_arrays(
    pdf: pd.DataFrame,
    facet_defs: dict,
    n_docs: int,
) -> tuple[dict[str, np.ndarray], dict[str, list[str]]]:
    """Factorize facet labels into dense code arrays indexed by docID —
    shared by the single-index, sharded, and merged serving services."""
    ids = pdf["doc_id"].to_numpy()
    codes: dict[str, np.ndarray] = {}
    cats: dict[str, list[str]] = {}
    for name, spec in facet_defs.items():
        series = pdf[spec] if isinstance(spec, str) else spec(pdf)
        labels = series.astype("string").fillna(_NULL_FACET)
        cs, cd = np.unique(labels.to_numpy(dtype=object), return_inverse=True)
        dense = np.zeros(n_docs, dtype=np.int32)
        dense[ids] = cd
        codes[name] = dense
        cats[name] = [str(c) for c in cs]
    return codes, cats




_HIST_PERIODS = {"year": "Y", "month": "M", "day": "D"}


def _histogram_arrays(
    pdf: pd.DataFrame, field: str, interval: str, n_docs: int
) -> tuple[np.ndarray, list[str]]:
    """Dense per-docID period codes + ASC labels for a timestamp docmap
    column — a date histogram is a derived facet whose labels are
    date_trunc buckets ('2025-03' for month). Zero-padded period strings
    sort lexicographically == chronologically, so the shared
    _facet_arrays factorization already yields bucket-ASC labels."""
    per = _HIST_PERIODS.get(interval)
    if per is None:
        raise ValueError(
            f"interval must be one of {sorted(_HIST_PERIODS)}, got "
            f"{interval!r}"
        )

    def spec(p: pd.DataFrame) -> pd.Series:
        return pd.to_datetime(p[field]).dt.to_period(per).astype(str)

    codes, cats = _facet_arrays(pdf, {field: spec}, n_docs)
    return codes[field], cats[field]


def assemble_facet_tree(
    pairs: list[tuple[str, str, int]],
) -> list[dict]:
    """Nested two-level facet tree from (parent, child, n) pair counts —
    the reference's genre→style tree shape
    (api/queries/genre_tree_queries.py:13-31): parents ordered count DESC
    (name ASC tiebreak), each with its total and its children ordered the
    same way. Pure assembly — shard-sum the pair vectors first (shards are
    doc-disjoint, so pair counts add exactly)."""
    by_parent: dict[str, dict[str, int]] = {}
    for parent, child, n in pairs:
        bucket = by_parent.setdefault(parent, {})
        bucket[child] = bucket.get(child, 0) + n
    out = []
    for parent, kids in by_parent.items():
        total = sum(kids.values())
        children = sorted(kids.items(), key=lambda cn: (-cn[1], cn[0]))
        out.append({"name": parent, "count": total, "children": children})
    out.sort(key=lambda row: (-row["count"], row["name"]))
    return out

def _synonym_groups(
    an, query_text: str, synonyms: dict[str, list[str]]
) -> list[tuple[str, list[str]]]:
    """Sorted (leader, sorted members) synonym groups — the same
    derivation LocalSearcher.topk_synonym / ShardedSearcher.topk_synonym
    apply (leader = analyzed query term; members = leader + analyzed
    synonym tokens), shared by the served synonym branch."""
    base = an.analyze_query(query_text)
    seen: set[str] = set()
    terms = [t for t in base if not (t in seen or seen.add(t))]
    groups: list[tuple[str, list[str]]] = []
    for t in terms:
        mem = {t}
        for s_ in synonyms.get(t, ()):
            mem.update(an.analyze_query(s_))
        groups.append((t, sorted(mem)))
    groups.sort(key=lambda g: g[0])
    return groups


def _facet_filter_keep(
    facet_codes: dict[str, np.ndarray],
    facet_cats: dict[str, list[str]],
    matched: np.ndarray,
    filter: dict,
    svc=None,
) -> np.ndarray:
    """Faceted drill-down intersection through the dense code arrays —
    O(|matched|) per filter field, zero index I/O (shared by the three
    services' filtered branches). A filter VALUE that is a (lo, hi)
    tuple is a NUMERIC RANGE predicate (either bound None = open; the
    Elasticsearch range-filter shape) against the doc-value array —
    `svc` supplies `_numeric_col` for that arm."""
    keep = np.ones(matched.size, dtype=bool)
    for fname, fval in filter.items():
        if isinstance(fval, tuple):
            if svc is None:
                raise ValueError("range filters need a service handle")
            lo, hi = fval
            v = svc._numeric_col(fname)[matched]
            m = ~np.isnan(v)
            if lo is not None:
                m &= v >= lo
            if hi is not None:
                m &= v <= hi
            keep &= m
            continue
        codes = facet_codes.get(fname)
        if codes is None:
            raise ValueError(f"unknown facet field {fname!r}")
        cats = facet_cats[fname]
        try:
            code = cats.index(str(fval))
        except ValueError:
            keep[:] = False
            break
        keep &= codes[matched] == code
    return matched[keep]


def _stats_of(values: np.ndarray) -> dict[str, float | int | None]:
    """Elasticsearch `stats` metric shape over one field's matched values
    (NaN = null, excluded from count like a SQL aggregate)."""
    v = values[~np.isnan(values)]
    n = int(v.size)
    if not n:
        return {"count": 0, "min": None, "max": None, "sum": 0.0, "avg": None}
    s = float(v.sum())
    return {
        "count": n,
        "min": float(v.min()),
        "max": float(v.max()),
        "sum": s,
        "avg": s / n,
    }


def _combine_stats(
    parts: list[dict[str, dict[str, float | int | None]]],
) -> dict[str, dict[str, float | int | None]]:
    """Merge per-shard stats exactly: count/sum add, min/max fold, avg
    recomputed from the global sum/count (doc-disjoint shards)."""
    out: dict[str, dict[str, float | int | None]] = {}
    for part in parts:
        for f, st in part.items():
            acc = out.get(f)
            if acc is None:
                out[f] = dict(st)
                continue
            acc["count"] += st["count"]
            acc["sum"] += st["sum"]
            for key, fold in (("min", min), ("max", max)):
                vals = [x for x in (acc[key], st[key]) if x is not None]
                acc[key] = fold(vals) if vals else None
    for st in out.values():
        st["avg"] = st["sum"] / st["count"] if st["count"] else None
    return out


def _grouped_rows(
    hits: list[tuple[int, float]],
    codes: "np.ndarray",
    cats: list[str],
    k: int,
) -> list[tuple[str, float, float, float, int]]:
    """Aggregate scored hits into per-group relevance rows
    [(label, sum, avg, max, n_matched)] ordered (sum DESC, label ASC) —
    the Lucene grouping score modes in one pass (collapse() remains the
    pruned best-representative variant; this is the exact aggregate over
    EVERY matched member)."""
    if not hits:
        return []
    ids = np.fromiter((d for d, _ in hits), dtype=np.int64, count=len(hits))
    sc = np.fromiter((s for _, s in hits), dtype=np.float64, count=len(hits))
    g = codes[ids]
    nc = len(cats)
    sums = np.bincount(g, weights=sc, minlength=nc)
    counts = np.bincount(g, minlength=nc)
    maxs = np.full(nc, -np.inf)
    np.maximum.at(maxs, g, sc)
    present = np.flatnonzero(counts)
    rows = [
        (
            cats[i],
            float(sums[i]),
            float(sums[i] / counts[i]),
            float(maxs[i]),
            int(counts[i]),
        )
        for i in present
    ]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


def _grouped_rows_arrays(
    ids: "np.ndarray",
    scores: "np.ndarray",
    codes: "np.ndarray",
    cats: list[str],
    k: int,
) -> list[tuple[str, float, float, float, int]]:
    """_grouped_rows over ALIGNED (ids, scores) arrays: bincount sums and
    counts, sort+reduceat group max (np.maximum.at is ~10x slower at this
    size), and top-k group selection BEFORE any Python tuple is built —
    the former path materialized one row per PRESENT group (120k for a
    conv_id grouping of a dense query) just to cut k of them."""
    if ids.size == 0:
        return []
    g = codes[ids]
    nc = len(cats)
    sums = np.bincount(g, weights=scores, minlength=nc)
    counts = np.bincount(g, minlength=nc)
    order = np.argsort(g, kind="stable")
    gs = g[order]
    starts = np.flatnonzero(np.concatenate(([True], gs[1:] != gs[:-1])))
    maxs = np.full(nc, -np.inf)
    maxs[gs[starts]] = np.maximum.reduceat(scores[order], starts)
    present = np.flatnonzero(counts)
    if present.size > k > 0:
        psums = sums[present]
        kth = np.partition(-psums, k - 1)[k - 1]
        present = present[-psums <= kth]  # keep sum ties for the label sort
    rows = [
        (
            cats[i],
            float(sums[i]),
            float(sums[i] / counts[i]),
            float(maxs[i]),
            int(counts[i]),
        )
        for i in present
    ]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


def _jlh_rows(
    fg_map: dict[str, int],
    dfs: dict[str, int],
    n_matched: int,
    n_docs: int,
    exclude: set[str],
    min_doc_count: int,
    k: int,
) -> list[tuple[str, int, int, float]]:
    """Rank candidate terms by the JLH significance heuristic
    (Elasticsearch significant_terms default): score =
    (fg% − bg%)·(fg%/bg%) — absolute AND relative foreground lift, so
    both common-but-lifted and rare-but-concentrated terms surface.
    Returns [(term, fg, bg, score)] ordered (score DESC, term ASC);
    query terms themselves are excluded (they trivially dominate)."""
    out: list[tuple[str, int, int, float]] = []
    for t in sorted(fg_map):
        if t in exclude:
            continue
        fg = fg_map[t]
        if fg < min_doc_count:
            continue
        df = dfs.get(t, fg)
        fg_pct = fg / n_matched
        bg_pct = df / n_docs
        if fg_pct <= bg_pct:
            continue  # not lifted above background
        score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
        out.append((t, fg, df, score))
    out.sort(key=lambda r: (-r[3], r[0]))
    return out[:k]


def _group_union_intersection(groups, rel_of) -> np.ndarray:
    """Matched set of a synonym query: docs where EVERY group has ≥1
    member present — intersection over groups of the union of member
    posting docID arrays (smallest union first, membership probes, no
    re-sorts). `rel_of(term) -> sorted docID array | None`."""
    from discogsography_spark.query.engine import isect_sorted

    unions: list[np.ndarray] = []
    for _leader, ms in groups:
        arrs = [a for a in (rel_of(x) for x in ms) if a is not None]
        if not arrs:
            return np.empty(0, dtype=np.int64)
        unions.append(
            arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
        )
    unions.sort(key=lambda u: u.size)
    cand = unions[0]
    for u in unions[1:]:
        cand = isect_sorted(cand, u)
        if cand.size == 0:
            break
    return cand.astype(np.int64, copy=False)


class SearchService:
    """One-stop search response over a LocalSearcher index.

    facet_defs: facet name → either a docmap column name (string-valued) or
    a callable(pd.DataFrame of docmap columns) -> pd.Series of string labels
    (for derived facets like length buckets or decades).

    Every view-independent method is written here, once. The live view
    (MergedSearchService) subclasses this and overrides only the
    primitives that differ between a static index and base + delta +
    tombstones — see its docstring. Dense per-docID arrays are sized by
    `n_docs`, the searcher's id space (for a static index, meta.n_docs).
    """

    def __init__(
        self,
        index_dir: str,
        facet_defs: dict[str, str | Callable[[pd.DataFrame], pd.Series]] | None = None,
        text_lookup: Callable[[int], str] | None = None,
    ):
        self._open(index_dir)
        self._an = get_analyzer(self.meta.analyzer)
        self._index_dir = index_dir
        self._text_lookup = text_lookup
        self._facet_defs = facet_defs
        # docmap point-lookup row-group cache (_docmap_tokens_lookup);
        # keyed by file path, so it stays valid across view reloads
        self._mlt_dsets: dict[str, object] = {}
        self._mlt_rg_cache: dict[tuple, tuple] = {}
        self._mlt_rg_bytes = 0
        self._load_view_state()

    # ---- view primitives (overridden by the live view) -------------------
    def _open(self, index_dir: str) -> None:
        self.searcher = LocalSearcher(index_dir)
        self.meta = self.searcher.meta

    def reopen(self) -> bool:
        """Advance to the latest committed view. A static index never
        changes, so this is always a no-op returning False."""
        return False

    def _docmap_dirs(self) -> list[str]:
        """Docmap directories of the served view, in docID order."""
        return [os.path.join(self._index_dir, "docs")]

    def _dead_ids(self) -> np.ndarray:
        """Sorted docIDs that hold a slot but are not alive (none here)."""
        return _NO_DEAD

    # ---- view-derived docmap state ---------------------------------------
    def _load_view_state(self) -> None:
        """(Re)build every view-derived array: facet/text arrays size to
        the id space and read every docmap of the view; the lazily-built
        collapse/histogram/doc-value/context state starts empty."""
        # every dense per-docID array sizes to the searcher's ID SPACE
        # (tombstoned ids keep their slot until compact; dead ids never
        # appear in matched sets, so they are never counted or shown)
        self.n_docs = n = self.searcher.id_space
        self._texts: np.ndarray | None = None
        self._facet_codes: dict[str, np.ndarray] = {}
        self._facet_cats: dict[str, list[str]] = {}
        self._collapse_cache: dict[str, tuple[np.ndarray, list[str]]] = {}
        self._hist_cache: dict[tuple[str, str], tuple[np.ndarray, list[str]]] = {}
        self._num_cols: dict[str, np.ndarray] = {}
        self._ctx_index = None
        facet_defs = self._facet_defs
        if facet_defs:
            cols = {s for s in facet_defs.values() if isinstance(s, str)}
            derived = any(not isinstance(s, str) for s in facet_defs.values())
            pdf = self._docs_pdf(None if derived else sorted(cols))
            self._facet_codes, self._facet_cats = _facet_arrays(
                pdf, facet_defs, n
            )
        if self._text_lookup is None and bool(self.meta.stats.get("store_text")):
            tp = self._docs_pdf(["text"])
            arr = np.empty(n, dtype=object)
            arr[tp["doc_id"].to_numpy()] = tp["text"].to_numpy(dtype=object)
            self._texts = arr

    def _docs_pdf(self, columns: list[str] | None) -> pd.DataFrame:
        """Docmap rows over every docmap directory of the view (delta
        docIDs are already globally offset). columns=None loads every
        column except the token stream and the text."""
        import pyarrow.dataset as ds

        frames = []
        for d in self._docmap_dirs():
            dset = ds.dataset(d, format="parquet")
            avail = dset.schema.names
            want = (
                [c for c in avail if c not in ("doc_id", "tokens", "text")]
                if columns is None
                else [c for c in columns if c != "doc_id"]
            )
            missing = set(want) - set(avail)
            if missing:
                raise ValueError(
                    f"docmap at {d} lacks columns {sorted(missing)} — facet "
                    "fields must be carried through the build (IndexBuilder "
                    "keeps all input columns on the quarantine path) and "
                    "through every micro-batch (deltas written by an older "
                    "DeltaIndexWriter carried only the key columns; compact() "
                    "or re-stream them)"
                )
            frames.append(dset.to_table(columns=["doc_id", *want]).to_pandas())
        if len(frames) == 1:
            return frames[0]
        return pd.concat(frames, ignore_index=True)

    # ---- per-query -------------------------------------------------------
    def _bool_ast(
        self,
        query_text: str,
        prefix_expansions: dict[str, list[str]] | None = None,
        ast_override=None,
    ):
        """Parsed (or caller-supplied) boolean AST with its prefix/wild
        leaves expanded; None when the query matches nothing."""
        from discogsography_spark.query.boolquery import (
            expand_bool_prefixes,
            parse_bool_query,
        )

        ast = (
            ast_override
            if ast_override is not None
            else parse_bool_query(
                query_text, self._an.analyze_query, tokenize=self._an.tokenize_py
            )
        )
        if ast is None:
            return None
        return expand_bool_prefixes(
            ast, self.searcher.expand_pattern, prefix_expansions
        )

    def matched_docs(
        self,
        query_text: str,
        mode: str = "and",
        terms: list[str] | None = None,
        prefix_expansions: dict[str, list[str]] | None = None,
        ast_override=None,
    ) -> np.ndarray:
        """Exact matched docID set (sorted). AND = conjunctive intersection
        driven from the rarest term; OR = union of posting lists; bool =
        AND/OR/NOT set algebra over posting doc arrays (boolquery.py),
        phrase/within nodes resolved positionally. Decodes are served by
        LocalSearcher's byte-budgeted caches. `terms` bypasses query
        analysis (did-you-mean rewrites pass the already-analyzed fixed
        list); `prefix_expansions` injects a GLOBAL prefix-expansion map
        for bool mode (sharded fan-out); `ast_override` supplies an
        already-parsed (possibly fuzzy-rewritten) boolean AST."""
        s = self.searcher
        empty = np.empty(0, dtype=np.int64)
        if mode == "bool":
            from discogsography_spark.query.boolquery import (
                all_terms,
                eval_docsets,
            )

            ast = self._bool_ast(query_text, prefix_expansions, ast_override)
            if ast is None:
                return empty
            rows = s.lookup_terms(all_terms(ast))
            return eval_docsets(
                ast,
                lambda t: s._decoded(rows[t])[0] if t in rows else empty,
                phrase_docs_of=lambda ph: s._phrase_doc_set(list(ph)),
                within_docs_of=s._within_doc_set,
            )
        if terms is None:
            terms = self._an.analyze_query(query_text)
        if not terms:
            return empty
        rows = s.lookup_terms(terms)
        if mode == "or":
            found = [s._decoded(rows[t])[0] for t in terms if t in rows]
            if not found:
                return empty
            return np.unique(np.concatenate(found))
        if len(rows) != len(terms):
            return empty
        by_df = sorted(terms, key=lambda t: (rows[t].df, t))
        cand = s._decoded(rows[by_df[0]])[0]
        for t in by_df[1:]:
            mask, _, _ = s._probe(rows[t], cand)
            cand = cand[mask]
            if cand.size == 0:
                break
        return cand

    def matched_docs_synonym(
        self, groups: list[tuple[str, list[str]]]
    ) -> np.ndarray:
        """Matched set of a synonym query (SynonymQuery semantics): docs
        where EVERY group has ≥1 member present — the facet/total base of
        the served synonym branch."""
        s = self.searcher
        members = sorted({x for _, ms in groups for x in ms})
        rows = s.lookup_terms(members)
        return _group_union_intersection(
            groups, lambda t: s._decoded(rows[t])[0] if t in rows else None
        )

    def facet_counts(
        self, matched: np.ndarray, facet_names: list[str] | None = None
    ) -> dict[str, list[tuple[str, int]]]:
        """(value, count) per facet over the matched set, value-ASC (the
        fts_facets_multi ordering), zero-count values dropped."""
        out: dict[str, list[tuple[str, int]]] = {}
        for name in facet_names or sorted(self._facet_codes):
            codes = self._facet_codes[name]
            cats = self._facet_cats[name]
            counts = np.bincount(codes[matched], minlength=len(cats))
            out[name] = [
                (cats[i], int(counts[i]))
                for i in range(len(cats))
                if counts[i] > 0
            ]
        return out

    def _numeric_col(self, name: str) -> np.ndarray:
        """Dense float64 doc-value array for a numeric docmap column
        (NaN = null / absent row), loaded once per field — the doc-values
        column a Lucene stats aggregation reads."""
        arr = self._num_cols.get(name)
        if arr is None:
            pdf = self._docs_pdf([name])
            arr = np.full(self.n_docs, np.nan, dtype=np.float64)
            arr[pdf["doc_id"].to_numpy()] = pd.to_numeric(
                pdf[name], errors="coerce"
            ).to_numpy(dtype=np.float64)
            self._num_cols[name] = arr
        return arr

    def field_stats(
        self, matched: np.ndarray, fields: list[str]
    ) -> dict[str, dict[str, float | int | None]]:
        """Elasticsearch `stats` metric aggregation over the MATCHED set:
        field → {count, min, max, sum, avg}, one O(|matched|) gather per
        field over the cached doc-value array — no corpus scan."""
        return {f: _stats_of(self._numeric_col(f)[matched]) for f in fields}

    def field_percentiles(
        self,
        matched: np.ndarray,
        field: str,
        percents: tuple[float, ...] = (25.0, 50.0, 75.0, 95.0),
    ) -> dict[float, float]:
        """EXACT percentiles (linear interpolation — np.percentile /
        SQL quantile_cont semantics) of a numeric field over the MATCHED
        set; {} when no non-null values. The reference computes exact
        percentiles in SQL for its rarity distribution endpoints; ES
        `percentiles` is approximate t-digest — here exactness is cheap
        because the doc-value gather is O(|matched|)."""
        v = self._field_values(matched, field)
        if v.size == 0:
            return {}
        return {
            float(q): float(np.percentile(v, q)) for q in percents
        }

    def field_cardinality(self, matched: np.ndarray, field: str) -> int:
        """EXACT distinct non-null value count of a numeric docmap field
        over the MATCHED set (ES `cardinality` is HLL-approximate; the
        sharded coordinator unions per-shard distinct-value arrays, so
        the sharded number is exact too)."""
        return int(np.unique(self._field_values(matched, field)).size)

    def _field_values(self, matched: np.ndarray, field: str) -> np.ndarray:
        v = self._numeric_col(field)[matched]
        return v[~np.isnan(v)]

    def numeric_histogram(
        self, matched: np.ndarray, field: str, interval: float
    ) -> list[tuple[float, int]]:
        """Numeric histogram aggregation over the MATCHED set
        (Elasticsearch `histogram`): bucket = floor(value/interval) ·
        interval, (bucket, count) bucket-ASC, empty buckets dropped,
        nulls excluded — one O(|matched|) gather over the cached
        doc-value array (the date_histogram contract for numbers; on the
        live view `matched` is already alive-only)."""
        if interval <= 0:
            raise ValueError(f"interval must be > 0, got {interval}")
        v = self._field_values(matched, field)
        if v.size == 0:
            return []
        b = np.floor(v / interval).astype(np.int64)
        uniq, counts = np.unique(b, return_counts=True)
        return [
            (float(u * interval), int(c)) for u, c in zip(uniq, counts)
        ]

    def _candidate_terms(self, ids: np.ndarray) -> set[str]:
        """Union of the sample docs' analyzed vocabularies — significant-
        terms candidate discovery. When stored text is available the whole
        sample tokenizes in ONE vectorized pandas pass (the per-doc
        tokenize loop was the dominant sf0.1 cost: ~0.12 ms × sample);
        falls back to the per-doc docmap stream otherwise."""
        if self._texts is not None and len(ids):
            arr = self._texts[np.asarray(ids, dtype=np.int64)]
            s = pd.Series(arr, dtype=object).map(
                lambda t: "" if t is None else str(t)
            )
            cand: set[str] = set()
            for ts in self._an.tokenize_pandas(s):
                cand.update(ts)
            return cand
        return {
            t for d in ids for t in self._mlt_source_tokens(int(d))
        }

    def _term_docs(
        self, terms: list[str]
    ) -> tuple[dict[str, int], Callable[[str], np.ndarray]]:
        """(df per vocabulary term, term → sorted docID array): the
        posting source of significant-terms fg counting. Doc arrays come
        from the docs-only decode LRU, and only for the terms asked for."""
        s = self.searcher
        rows = s.lookup_terms(terms)
        return (
            {t: int(tp.df) for t, tp in rows.items()},
            lambda t: s._decoded_docs(rows[t]),
        )

    def _sig_fg_counts(
        self, matched: np.ndarray, sample: int | None, min_df: int = 1
    ) -> tuple[dict[str, int], dict[str, int]]:
        """Foreground doc frequencies for significant-terms: candidate
        terms come from the stored token streams of (up to `sample`) matched docs
        — the bounded part; each candidate's fg count is then EXACT, one
        sorted posting∩matched intersection (only discovery is sampled,
        the statistics are not). Returns (fg_counts, background_dfs)."""
        ids = (
            matched
            if sample is None or matched.size <= sample
            else matched[:sample]
        )
        cand = self._candidate_terms(ids)
        term_dfs, docs_of = self._term_docs(sorted(cand))
        # membership-mask counting: one O(id_space) mask build, then each
        # candidate costs O(df) gather-sum — no per-candidate sort (the
        # intersect1d version re-sorted df+|matched| values per term,
        # p95 1.06 s at sf0.01; this path is ~20x cheaper). Terms whose
        # TOTAL df can't reach min_doc_count are never decoded at all.
        mask = np.zeros(self.n_docs, dtype=bool)
        mask[matched] = True
        fg: dict[str, int] = {}
        dfs: dict[str, int] = {}
        for i, (t, df) in enumerate(term_dfs.items()):
            if i % 64 == 0:
                self.searcher._budget_check()
            if df < min_df:
                continue
            n = int(np.count_nonzero(mask[docs_of(t)]))
            if n:
                fg[t] = n
                dfs[t] = df
        return fg, dfs

    def significant_terms(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "and",
        sample: int | None = 1000,
        min_doc_count: int = 3,
        budget_ms: float | None = None,
    ) -> list[tuple[str, int, int, float]]:
        """Significant-terms aggregation (Elasticsearch significant_terms,
        JLH heuristic): terms over-represented in the MATCHED set relative
        to the whole corpus — "what characterizes these results". The
        reference's co-occurrence analytics (genre→style trees, label
        specialization) answer the same question with SQL GROUP BYs; here
        it rides the index: candidate discovery from ≤`sample` matched
        docs' stored text, exact fg = posting∩matched per candidate, bg =
        the dictionary df. Returns [(term, fg_count, bg_count, score)].
        On the live view every count is an alive count, so the result
        equals a fresh alive-corpus rebuild's."""
        if budget_ms is not None:
            with self.searcher.deadline(budget_ms):
                return self.significant_terms(
                    query_text, k=k, mode=mode, sample=sample,
                    min_doc_count=min_doc_count,
                )
        matched = self.matched_docs(query_text, mode=mode)
        if matched.size == 0:
            return []
        fg, dfs = self._sig_fg_counts(matched, sample, min_doc_count)
        exclude = set(self._an.analyze_query(query_text))
        return _jlh_rows(
            fg, dfs, int(matched.size), self.searcher.n_docs, exclude,
            min_doc_count, k,
        )

    def date_histogram(
        self, matched: np.ndarray, field: str = "ts", interval: str = "month"
    ) -> list[tuple[str, int]]:
        """Date-histogram aggregation over the MATCHED set (Elasticsearch
        date_histogram; the reference's time-bucketed dashboard counts,
        date_trunc over a filtered set): the docmap timestamp column
        factorizes ONCE into dense period codes, then every query pays one
        O(|matched|) bincount — no corpus scan, no per-query date math.
        Buckets (label, count) label-ASC == chronological, empty buckets
        dropped. Shards are doc-disjoint, so per-shard bucket dicts SUM
        exactly (ShardedSearchService.date_histogram)."""
        codes, cats = self._hist_codes(field, interval)
        counts = np.bincount(codes[matched], minlength=len(cats))
        return [
            (cats[i], int(counts[i]))
            for i in range(len(cats))
            if counts[i] > 0
        ]

    def _hist_codes(
        self, field: str, interval: str
    ) -> tuple[np.ndarray, list[str]]:
        key = (field, interval)
        hit = self._hist_cache.get(key)
        if hit is None:
            pdf = self._docs_pdf([field])
            hit = _histogram_arrays(pdf, field, interval, self.n_docs)
            self._hist_cache[key] = hit
        return hit

    def facet_tree_pairs(
        self, matched: np.ndarray, parent: str, child: str
    ) -> list[tuple[str, str, int]]:
        """(parent, child, n) co-occurrence counts over the matched set —
        ONE combined bincount over the two dense code arrays (parent code
        × |child categories| + child code), zero pairs dropped. This is
        the per-shard RPC vector of the hierarchical facet tree: shards
        are doc-disjoint, so the coordinator just adds vectors."""
        pcodes, pcats = self._collapse_codes(parent)
        ccodes, ccats = self._collapse_codes(child)
        C = len(ccats)
        if matched.size == 0 or C == 0:
            return []
        combo = pcodes[matched].astype(np.int64) * C + ccodes[matched]
        counts = np.bincount(combo, minlength=len(pcats) * C)
        nz = np.flatnonzero(counts)
        return [
            (pcats[int(i // C)], ccats[int(i % C)], int(counts[i]))
            for i in nz
        ]

    def facet_tree(
        self, matched: np.ndarray, parent: str, child: str
    ) -> list[dict]:
        """Two-level nested facet hierarchy over the matched set — the
        reference's genre→style tree (genre_tree_queries.py:13-31) from
        the serving path: O(|matched|) + one bincount, no corpus scan."""
        return assemble_facet_tree(
            self.facet_tree_pairs(matched, parent, child)
        )

    def _collapse_codes(self, field: str) -> tuple[np.ndarray, list[str]]:
        """Dense per-docID group codes + labels for a docmap column —
        reuses a registered facet's arrays, else loads and caches the
        column once (the facet-array factorization, so a high-cardinality
        collapse key like conv_id costs one int32 array + label list)."""
        if field in self._facet_codes:
            return self._facet_codes[field], self._facet_cats[field]
        hit = self._collapse_cache.get(field)
        if hit is not None:
            return hit
        pdf = self._docs_pdf([field])
        codes, cats = _facet_arrays(pdf, {field: field}, self.n_docs)
        self._collapse_cache[field] = (codes[field], cats[field])
        return self._collapse_cache[field]

    def _collapse_eval(self, query_text: str, mode: str):
        return lambda kp: self._search_topk(query_text, kp, mode, None, None, None)

    def collapse(
        self,
        query_text: str,
        field: str,
        k: int,
        mode: str = "and",
        counts: bool = True,
        probe_k: int | None = None,
    ) -> list[tuple]:
        """Field-collapsed search: top-k `field` groups, each represented
        by its best-scoring document — search turns, return conversations
        (query/collapse.py; the reference's per-entity-type rank-capped
        subqueries UNION ALL'd, search_queries.py:105-197). Rows are
        (group_label, doc_id, score, group_matched) with group_matched the
        group's exact total matched count."""
        from discogsography_spark.query.collapse import service_collapse

        return service_collapse(
            self, query_text, field, k, mode=mode, counts=counts, probe_k=probe_k
        )

    def grouped_topk(
        self,
        query_text: str,
        field: str,
        k: int,
        mode: str = "and",
        budget_ms: float | None = None,
    ) -> list[tuple[str, float, float, float, int]]:
        """Grouped relevance: rank `field` GROUPS by aggregates of their
        matched members\' BM25 scores — [(label, sum_score, avg_score,
        max_score, n_matched)] ordered (sum DESC, label ASC). Lucene
        grouping\'s score modes over the exact matched set; O(|matched|)
        after the one-time group-code factorize (the facet-tier bound).

        Round-7 shape (the r6 tail was 506 ms p95 on the dense worst
        query): no ranking and no per-hit tuple materialization — the
        matched set (bitmap fast paths) is probe-scored into ALIGNED numpy
        arrays and aggregated with bincount/reduceat; the former path
        ranked the whole matched set through the evaluator (full-depth
        lexsort + one Python tuple per hit). `budget_ms` arms the
        per-query deadline (QueryBudgetExceeded at lookup/decode
        boundaries) — the same knob significant_terms has."""
        with self.searcher.deadline(budget_ms):
            if mode == "bool":
                # boolean predicates keep the evaluator path (the folded
                # predicate machinery owns the matched set there)
                hits = self._collapse_eval(query_text, mode)(2**31)
                codes, cats = self._collapse_codes(field)
                return _grouped_rows(hits, codes, cats, k)
            matched = self.matched_docs(query_text, mode=mode)
            if matched.size == 0:
                return []
            scores = self._score_matched(query_text, mode, matched)
        codes, cats = self._collapse_codes(field)
        return _grouped_rows_arrays(matched, scores, codes, cats, k)

    def _mlt_source_tokens(self, doc_id: int) -> list[str]:
        dead = self._dead_ids()
        if dead.size and np.isin(doc_id, dead):
            return []  # tombstoned source has no alive token stream
        # fast path: re-analyze the in-memory stored text (bit-identical to
        # the docmap token stream — the build tokenizes with the same
        # analyzer; ~µs vs ~25 ms for the columnar point lookup below)
        if self._texts is not None:
            if not (0 <= doc_id < self._texts.size):
                return []
            t = self._texts[doc_id]
            return self._an.tokenize_py("" if t is None else str(t))
        for d in self._docmap_dirs():
            got = _docmap_tokens_lookup(self, d, doc_id)
            if got:
                return got
        return []

    def _mlt_stats(self, terms: list[str]):
        s = self.searcher
        return s.term_dfs(terms), s.n_docs, s.params

    def _mlt_or_eval(self, terms: list[str]):
        return lambda kp: self.searcher._topk_or(terms, kp)

    def more_like_this(
        self, doc_id: int, k: int, max_terms: int = 8, min_df: int = 2,
        max_df_frac: float = 0.25,
    ) -> list[tuple[int, float]]:
        """Documents most similar to `doc_id` (Lucene MoreLikeThis,
        query/mlt.py): top tf·idf terms of the source turn → disjunctive
        BM25 top-k, source excluded. Source tokens come from the docmap's
        analyzed token stream — no stored text required."""
        from discogsography_spark.query.mlt import service_more_like_this

        return service_more_like_this(
            self, doc_id, k, max_terms=max_terms, min_df=min_df,
            max_df_frac=max_df_frac,
        )

    def context(
        self, doc_id: int, window: int = 2, text: bool = False
    ) -> list[tuple]:
        """Conversation-context retrieval (query/context.py): every turn of
        the hit's conversation within `window` turn indexes, turn-ASC —
        (doc_id, conv_id, turn_idx[, text]) rows, the hit included. Dead
        turns are dropped before the window is built, so on the live view
        a deleted turn leaves a gap and an upserted turn's replacement
        (which lives in a delta, far from its base siblings' docIDs) is
        pulled in by TURN distance, never by docID adjacency."""
        if self._ctx_index is None:
            from discogsography_spark.query.context import ContextIndex

            pdf = self._docs_pdf(["conv_id", "turn_idx"])
            dead = self._dead_ids()
            if dead.size:
                pdf = pdf[~np.isin(pdf["doc_id"].to_numpy(), dead)]
            self._ctx_index = ContextIndex(pdf, self.n_docs)
        rows = self._ctx_index.window(doc_id, window)
        if text:
            return [(d, c, t, self._text_of(d)) for d, c, t in rows]
        return rows

    def _text_of(self, doc_id: int) -> str:
        if self._texts is not None:
            t = self._texts[doc_id]
            return "" if t is None else str(t)
        if self._text_lookup is not None:
            return self._text_lookup(doc_id)
        raise ValueError(
            "highlighting needs text: build with IndexBuilder(store_text="
            "True) (deltas inherit it) or pass text_lookup to the service"
        )

    def headline(
        self,
        doc_id: int,
        terms: list[str],
        max_fragments: int | None = None,
        radius: int = 30,
        fragment_mode: str = "term",
        max_words: int = 12,
    ) -> str:
        """ts_headline analog — wraps every occurrence of each analyzed query
        token with <<...>>, the EXACT regexp_replace(text, '(tok)', '<<$1>>')
        contract of the fts_highlight DataFrame entry (case-sensitive,
        substring-inclusive), applied in sorted term order. With
        `max_fragments`, returns windowed snippets instead of the whole
        marked-up text, which is what a UI wants for long transcript turns:
        fragment_mode='term' gives per-term character windows
        (fragment_headline), fragment_mode='cover' gives PostgreSQL
        cover-density fragments (cover_fragments — tightest word windows
        containing ALL present terms, up to `max_words` words each)."""
        text = self._text_of(doc_id)
        if max_fragments is not None:
            if fragment_mode == "cover":
                return cover_fragments(
                    text, terms, max_fragments=max_fragments, max_words=max_words
                )
            return fragment_headline(
                text, terms, max_fragments=max_fragments, radius=radius
            )
        for t in sorted(set(terms)):
            text = re.sub(f"({re.escape(t)})", r"<<\1>>", text)
        return text

    def _search_topk(
        self,
        query_text: str,
        k: int,
        mode: str,
        qterms: list[str] | None,
        qast,
        after: tuple[float, int] | None,
    ) -> list[tuple[int, float]]:
        """Unfiltered ranking of search() and collapse(): a did-you-mean
        term list (`qterms`) or rewritten boolean AST (`qast`) goes
        straight to its evaluator; otherwise the query text is ranked in
        `mode`."""
        s = self.searcher
        if qterms is not None:
            if mode == "or":
                return s._topk_or(qterms, k, after=after)
            return s._topk_and(qterms, k, after=after)
        if qast is not None or mode == "bool":
            return s.topk_bool(query_text, k, ast_override=qast, after=after)
        return s.topk(query_text, k, mode=mode, after=after)

    def search(
        self,
        query_text: str,
        k: int,
        mode: str = "and",
        facets: list[str] | None = None,
        highlight: bool = False,
        fuzzy: bool = False,
        filter: dict[str, str] | None = None,
        highlight_fragments: int | None = None,
        fragment_mode: str = "term",
        offset: int = 0,
        budget_ms: float | None = None,
        search_after: tuple[float, int] | None = None,
        synonyms: dict[str, list[str]] | None = None,
        stats_fields: list[str] | None = None,
    ) -> SearchResponse:
        """`offset` pages the ranked results (reference:
        api/queries/search_queries.py:230-234 `ORDER BY rank DESC, id
        LIMIT %s OFFSET %s`): rank to depth k+offset, return rows
        offset..offset+k. Deterministic under the engine-wide
        (score DESC, doc_id ASC) tiebreak, so pages never overlap or skip.
        `budget_ms` caps the whole request's evaluation wall-clock
        (QueryBudgetExceeded at a block/term boundary — the reference's
        120 s per-query cap, api/queries/rarity_queries.py:199-204); on
        the live view it covers base, promoted legs and the delta tail."""
        if budget_ms is not None:
            with self.searcher.deadline(budget_ms):
                return self.search(
                    query_text, k, mode=mode, facets=facets,
                    highlight=highlight, fuzzy=fuzzy, filter=filter,
                    highlight_fragments=highlight_fragments,
                    fragment_mode=fragment_mode, offset=offset,
                    search_after=search_after, synonyms=synonyms,
                    stats_fields=stats_fields,
                )
        if offset < 0:
            raise ValueError(f"offset must be ≥ 0, got {offset}")
        if search_after is not None and offset:
            raise ValueError("offset and search_after are mutually exclusive")
        k = k + offset  # rank depth; sliced back to the page below
        if highlight_fragments is not None:
            highlight = True
        if synonyms is not None:
            return self._search_synonym(
                query_text, k, synonyms, facets=facets, highlight=highlight,
                fuzzy=fuzzy, filter=filter, mode=mode,
                highlight_fragments=highlight_fragments,
                fragment_mode=fragment_mode, offset=offset,
                search_after=search_after, stats_fields=stats_fields,
            )
        rewrites: dict[str, str] = {}
        qterms: list[str] | None = None  # analyzed-term override (fuzzy)
        qast = None  # rewritten boolean AST (fuzzy bool mode)
        if fuzzy and mode in ("and", "or"):
            # did-you-mean: rewrite vocabulary-absent terms to their best
            # trigram suggestion BEFORE evaluation ("showing results for …").
            # The fixed ANALYZED list threads through directly — re-joining
            # into a query string would re-stem suggested terms (Porter is
            # not idempotent), diverging from the reported rewrite.
            terms = self._an.analyze_query(query_text)
            known = self.searcher.term_dfs(terms)
            fixed = []
            for t in terms:
                if t in known:
                    fixed.append(t)
                    continue
                sugg = self.searcher.suggest_terms(t, k=1)
                if sugg:
                    rewrites[t] = sugg[0][0]
                    fixed.append(sugg[0][0])
                else:
                    fixed.append(t)
            if rewrites:
                qterms = sorted(set(fixed))
        elif fuzzy and mode == "bool":
            # did-you-mean on the boolean language: rewrite the parsed
            # AST's vocabulary-absent PLAIN term leaves (phrase/within/
            # prefix nodes stay exact), then thread the rewritten AST into
            # ranking, matched-set counting, and highlighting
            from discogsography_spark.query.boolquery import (
                parse_bool_query,
                rewrite_fuzzy_terms,
            )

            ast0 = parse_bool_query(
                query_text, self._an.analyze_query, tokenize=self._an.tokenize_py
            )
            if ast0 is not None:
                s = self.searcher

                def _sugg(t: str) -> str | None:
                    got = s.suggest_terms(t, k=1)
                    return got[0][0] if got else None

                qast, rewrites = rewrite_fuzzy_terms(
                    ast0,
                    known=lambda t: bool(s.term_dfs([t])),
                    suggest=_sugg,
                )
        if filter:
            # faceted drill-down: intersect the matched set with the
            # requested facet values through the dense code arrays —
            # O(|matched|) per filter field, zero extra index I/O
            matched = self._filtered_matched(
                query_text, mode, filter, terms=qterms, ast_override=qast
            )
            results = self._rank_matched(
                query_text, mode, matched, k, terms=qterms,
                ast_override=qast, after=search_after,
            )
        else:
            matched = self.matched_docs(
                query_text, mode=mode, terms=qterms, ast_override=qast
            )
            results = self._search_topk(
                query_text, k, mode, qterms, qast, search_after
            )
        if offset:
            results = results[offset:]
        resp = SearchResponse(
            results=results, total_matched=int(matched.size), rewrites=rewrites
        )
        if results:
            resp.next_after = (results[-1][1], results[-1][0])
        if facets is None and self._facet_codes:
            facets = sorted(self._facet_codes)
        if facets:
            resp.facets = self.facet_counts(matched, facets)
        if stats_fields:
            resp.stats = self.field_stats(matched, stats_fields)
        if highlight:
            hterms = (
                qterms
                if qterms is not None
                else self._highlight_terms(query_text, mode, ast_override=qast)
            )
            resp.headlines = {
                d: self.headline(
                    d,
                    hterms,
                    max_fragments=highlight_fragments,
                    fragment_mode=fragment_mode,
                )
                for d, _ in results
            }
        return resp

    def _search_synonym(
        self,
        query_text: str,
        k: int,
        synonyms: dict[str, list[str]],
        facets: list[str] | None,
        highlight: bool,
        fuzzy: bool,
        filter: dict[str, str] | None,
        mode: str,
        highlight_fragments: int | None,
        fragment_mode: str,
        offset: int,
        search_after: tuple[float, int] | None,
        stats_fields: list[str] | None = None,
    ) -> SearchResponse:
        """Synonym-aware served response (SynonymQuery semantics on the
        full /search shape): facets + total over the group-matched set,
        ranking through the exact group evaluator (drill-down restricts
        it to the filtered matched set — scores unchanged), pagination
        via offset or search_after, group members highlighted. k arrives
        already depth-extended by offset."""
        if mode != "and":
            raise ValueError(
                "synonyms compose with mode='and' (SynonymQuery is "
                f"conjunctive across groups), got mode={mode!r}"
            )
        if fuzzy:
            raise ValueError("fuzzy and synonyms are mutually exclusive")
        from discogsography_spark.query.engine import isect_sorted

        groups = _synonym_groups(self._an, query_text, synonyms)
        dense = (
            self.searcher._synonym_dense(groups, k, after=search_after)
            if hasattr(self.searcher, "_synonym_dense")
            else None
        )
        if dense is not None:
            results, matched = dense
            if filter:
                matched = _facet_filter_keep(
                    self._facet_codes, self._facet_cats, matched, filter,
                    svc=self,
                )
                # re-rank restricted to the filtered set (bitmaps cached —
                # the second dense pass is the cheap part; scores unchanged)
                results = self.searcher._synonym_dense(
                    groups, k, after=search_after, restrict=matched
                )[0]
        else:
            # ONE relations build feeds the matched set AND the ranking —
            # the matched-then-rank shape used to decode and merge the
            # same group postings twice per request
            relations = self.searcher._synonym_group_relations(groups)
            if relations is None:
                matched = np.empty(0, dtype=np.int64)
                results = []
            else:
                by_size = sorted(
                    (g[1] for g in relations), key=lambda d: d.size
                )
                matched = by_size[0]
                for d in by_size[1:]:
                    matched = isect_sorted(matched, d)
                matched = matched.astype(np.int64, copy=False)
                if filter:
                    matched = _facet_filter_keep(
                        self._facet_codes, self._facet_cats, matched, filter,
                        svc=self,
                    )
                results = self.searcher._topk_synonym_groups(
                    groups, k, after=search_after,
                    relations=relations, cand=matched,
                )
        if offset:
            results = results[offset:]
        resp = SearchResponse(
            results=results, total_matched=int(matched.size), rewrites={}
        )
        if results:
            resp.next_after = (results[-1][1], results[-1][0])
        if facets is None and self._facet_codes:
            facets = sorted(self._facet_codes)
        if facets:
            resp.facets = self.facet_counts(matched, facets)
        if stats_fields:
            resp.stats = self.field_stats(matched, stats_fields)
        if highlight:
            hterms = sorted({x for _, ms in groups for x in ms})
            resp.headlines = {
                d: self.headline(
                    d, hterms, max_fragments=highlight_fragments,
                    fragment_mode=fragment_mode,
                )
                for d, _ in results
            }
        return resp

    def _rank_matched(
        self,
        query_text: str,
        mode: str,
        matched: np.ndarray,
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        terms: list[str] | None = None,
        prefix_expansions: dict[str, list[str]] | None = None,
        ast_override=None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Exact BM25 top-k restricted to a pre-filtered matched docID set:
        probe each scoring term over the set, accumulate in sorted order
        (the evaluator contract), cut at k. `idfs`/`avgdl` inject GLOBAL
        statistics for sharded drill-down; `terms` overrides the scoring
        term list (fuzzy rewrites); `prefix_expansions` injects the global
        prefix rewrite so bool-mode scoring terms match the matched set;
        `ast_override` supplies a pre-parsed (fuzzy-rewritten) AST."""
        if matched.size == 0 or k <= 0:
            return []
        scores = self._score_matched(
            query_text, mode, matched, idfs=idfs, avgdl=avgdl, terms=terms,
            prefix_expansions=prefix_expansions, ast_override=ast_override,
        )
        if after is not None:
            keep = _after_mask(matched, scores, after)
            matched, scores = matched[keep], scores[keep]
            if matched.size == 0:
                return []
        if matched.size > 4 * k:
            kth = np.partition(-scores, k - 1)[k - 1]
            sel = np.flatnonzero(-scores <= kth)
            matched, scores = matched[sel], scores[sel]
        top = np.lexsort((matched, -scores))[:k]
        return [(int(matched[i]), float(scores[i])) for i in top]

    def _scoring_terms(
        self,
        query_text: str,
        mode: str,
        terms: list[str] | None,
        prefix_expansions: dict[str, list[str]] | None,
        ast_override,
    ) -> list[str]:
        """Terms _score_matched sums over: the caller's override, else the
        positive terms of the (prefix-expanded) predicate in bool mode, else
        the analyzed query."""
        if terms is not None:
            return terms
        if mode == "bool":
            return self._highlight_terms(
                query_text, mode, prefix_expansions, ast_override
            )
        return self._an.analyze_query(query_text)

    def _score_matched(
        self,
        query_text: str,
        mode: str,
        matched: np.ndarray,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        terms: list[str] | None = None,
        prefix_expansions: dict[str, list[str]] | None = None,
        ast_override=None,
    ) -> np.ndarray:
        """Exact BM25 scores ALIGNED with a pre-filtered matched docID
        array, no ranking and no per-hit tuple materialization — the
        probe-scoring core of _rank_matched, also the grouped-relevance
        workhorse (aggregates need every member's score but no order).
        Deadlines fire at the lookup/decode boundaries inside the probes."""
        s = self.searcher
        m, p = s.meta, s.meta.params
        if avgdl is None:
            avgdl = m.avgdl
        terms = self._scoring_terms(
            query_text, mode, terms, prefix_expansions, ast_override
        )
        rows = s.lookup_terms(terms)
        scores = np.zeros(matched.size, dtype=np.float64)
        for t in sorted(set(terms)):  # fixed summation order
            if t not in rows:
                continue
            mask, tfv, dlv = s._probe(rows[t], matched)
            hit = np.flatnonzero(mask)
            if hit.size == 0:
                continue
            # fall back to a locally-computed idf when the caller's global
            # map lacks a term (defensive — the sharded service builds the
            # map from the SAME expanded AST, so this should not fire)
            idf = (
                idfs[t]
                if idfs is not None and t in idfs
                else p.idf(m.n_docs, rows[t].df)
            )
            tf = tfv.astype(np.float64)
            norm = p.k1 * (
                1.0 - p.b + p.b * (dlv.astype(np.float64) / avgdl)
            )
            scores[hit] = scores[hit] + idf * (tf / (tf + norm))
        return scores

    def _filtered_matched(
        self,
        query_text: str,
        mode: str,
        filter: dict[str, str],
        terms: list[str] | None = None,
        prefix_expansions: dict[str, list[str]] | None = None,
        ast_override=None,
    ) -> np.ndarray:
        matched = self.matched_docs(
            query_text, mode=mode, terms=terms,
            prefix_expansions=prefix_expansions, ast_override=ast_override,
        )
        return _facet_filter_keep(
            self._facet_codes, self._facet_cats, matched, filter, svc=self
        )

    def _highlight_terms(
        self,
        query_text: str,
        mode: str,
        prefix_expansions: dict[str, list[str]] | None = None,
        ast_override=None,
    ) -> list[str]:
        if mode != "bool":
            return self._an.analyze_query(query_text)
        # highlight only positive-polarity terms: a matching doc cannot
        # contain a term its predicate excludes
        from discogsography_spark.query.boolquery import polarity_terms

        ast = self._bool_ast(query_text, prefix_expansions, ast_override)
        return polarity_terms(ast)[0] if ast is not None else []


class ShardedSearchService:
    """Search-response fan-out over doc-sharded indexes (query/sharded.py):
    results come from ShardedSearcher (global stats, bit-identical to a
    whole-corpus index); facet counts and total_matched are SUMS of
    per-shard values — exact, because shards are disjoint consecutive docID
    ranges; headlines resolve through the owning shard's text store. This is
    the response shape a 1000-node serving tier assembles with one RPC per
    shard: each shard returns (top-k, facet-count vector, |matched|), the
    coordinator adds vectors and merges top-k."""

    def __init__(
        self,
        index_dirs: list[str],
        facet_defs: dict[str, str | Callable[[pd.DataFrame], pd.Series]] | None = None,
        text_lookup: Callable[[int], str] | None = None,
        parallel: bool = True,
        live: bool | None = None,
    ):
        """`live` (None = auto-detect committed deltas) serves the LIVE
        sharded tier: per-shard MergedSearchService over base + delta tail
        + tombstones, ShardedSearcher live fan-out with global ALIVE stats
        — a streaming deployment's full response at sharded scale, no
        compaction pause. Static shards keep the SearchService fast path."""
        from discogsography_spark.query.sharded import ShardedSearcher

        self.sharded = ShardedSearcher(index_dirs, parallel=parallel, live=live)
        svc_cls = MergedSearchService if self.sharded.live else SearchService
        self.services = [
            svc_cls(d, facet_defs=facet_defs, text_lookup=text_lookup)
            for d in index_dirs
        ]
        self.offsets = self.sharded.offsets

    def close(self) -> None:
        """Shut down the underlying shard worker pool / thread pool."""
        self.sharded.close()

    def reopen(self) -> bool:
        """Advance every live shard (worker-pool searchers AND the
        coordinator-side per-shard services) to the latest committed
        deltas, atomically per shard — the sharded deployment's view
        refresh. Returns True iff any shard changed."""
        changed = self.sharded.reopen()
        for svc in self.services:
            changed = svc.reopen() or changed
        return bool(changed)

    def facet_tree(
        self,
        query_text: str,
        parent: str,
        child: str,
        mode: str = "and",
    ) -> list[dict]:
        """Hierarchical facet tree over the GLOBAL matched set — one
        fan-out RPC per shard returning its (parent, child, n) pair
        vector, summed exactly at the coordinator (doc-disjoint shards),
        then assembled once. Identical to the single-index tree over the
        concatenated corpus; tests assert the summation identity."""
        def _pairs(svc):
            m = svc.matched_docs(query_text, mode=mode)
            return svc.facet_tree_pairs(m, parent, child)

        acc: dict[tuple[str, str], int] = {}
        for pairs in self.sharded._fanout_heavy(_pairs, self.services):
            for p, c, n in pairs:
                acc[(p, c)] = acc.get((p, c), 0) + n
        return assemble_facet_tree([(p, c, n) for (p, c), n in acc.items()])

    def date_histogram(
        self,
        matched_per_shard: list[np.ndarray],
        field: str = "ts",
        interval: str = "month",
    ) -> list[tuple[str, int]]:
        """Date histogram across shards: each shard bincounts its own
        matched set over its local period codes (one RPC-sized
        (label, count) vector per shard), the coordinator adds dicts —
        exact, shards are doc-disjoint. Labels merge ASC."""
        acc: dict[str, int] = {}
        for pairs in self.sharded._fanout_heavy(
            lambda im: im[1].date_histogram(im[0], field, interval),
            list(zip(matched_per_shard, self.services)),
        ):
            for label, n in pairs:
                acc[label] = acc.get(label, 0) + n
        return sorted(acc.items())

    def numeric_histogram(
        self,
        matched_per_shard: list[np.ndarray],
        field: str,
        interval: float,
    ) -> list[tuple[float, int]]:
        """Numeric histogram across shards — per-shard bucket vectors sum
        exactly (doc-disjoint), buckets merge ASC (the date_histogram
        recipe for numbers)."""
        acc: dict[float, int] = {}
        for pairs in self.sharded._fanout_heavy(
            lambda im: im[1].numeric_histogram(im[0], field, interval),
            list(zip(matched_per_shard, self.services)),
        ):
            for bucket, n in pairs:
                acc[bucket] = acc.get(bucket, 0) + n
        return sorted(acc.items())

    def field_percentiles(
        self,
        matched_per_shard: list[np.ndarray],
        field: str,
        percents: tuple[float, ...] = (25.0, 50.0, 75.0, 95.0),
    ) -> dict[float, float]:
        """EXACT global percentiles across shards: per-shard matched
        value arrays concatenate at the coordinator (a percentile is not
        shard-decomposable; shipping the matched values is O(|matched|),
        the same bound the facet tier already pays per request)."""
        parts = self.sharded._fanout_heavy(
            lambda im: im[1]._field_values(im[0], field),
            list(zip(matched_per_shard, self.services)),
        )
        v = np.concatenate([x for x in parts if x.size] or [np.empty(0)])
        if v.size == 0:
            return {}
        return {float(q): float(np.percentile(v, q)) for q in percents}

    def field_cardinality(
        self, matched_per_shard: list[np.ndarray], field: str
    ) -> int:
        """EXACT distinct count across shards — union of per-shard
        distinct-value arrays (each ≤ the shard's value domain, far
        smaller than the matched set)."""
        parts = self.sharded._fanout_heavy(
            lambda im: np.unique(im[1]._field_values(im[0], field)),
            list(zip(matched_per_shard, self.services)),
        )
        v = np.concatenate([x for x in parts if x.size] or [np.empty(0)])
        return int(np.unique(v).size)

    def grouped_topk(
        self,
        query_text: str,
        field: str,
        k: int,
        mode: str = "and",
    ) -> list[tuple[str, float, float, float, int]]:
        """Grouped relevance across shards — per-shard aggregates with
        GLOBAL stats injected (scores directly comparable), merged by
        group LABEL (groups may span shards: sums/counts add, max folds,
        avg recomputed from the global sum/count) — identical to the
        single-index service."""
        an = self.services[0]._an
        terms = an.analyze_query(query_text)
        if not terms:
            return []
        per_shard_dfs, idfs = self.sharded._global_idfs(terms)
        if mode == "and" and len(idfs) != len(terms):
            return []
        avgdl = self.sharded.avgdl

        def _part(svc: SearchService):
            matched = svc.matched_docs(query_text, mode=mode)
            if matched.size == 0:
                return []
            hits = svc._rank_matched(
                query_text, mode, matched, matched.size,
                idfs=idfs, avgdl=avgdl,
            )
            codes, cats = svc._collapse_codes(field)
            return _grouped_rows(hits, codes, cats, len(cats))

        acc: dict[str, list] = {}
        for rows in self.sharded._fanout_heavy(_part, self.services):
            for label, s_, _avg, mx, n in rows:
                ent = acc.get(label)
                if ent is None:
                    acc[label] = [s_, mx, n]
                else:
                    ent[0] += s_
                    ent[1] = max(ent[1], mx)
                    ent[2] += n
        out = [
            (label, s_, s_ / n, mx, n)
            for label, (s_, mx, n) in acc.items()
        ]
        out.sort(key=lambda r: (-r[1], r[0]))
        return out[:k]

    def search(
        self,
        query_text: str,
        k: int,
        mode: str = "and",
        facets: list[str] | None = None,
        highlight: bool = False,
        filter: dict[str, str] | None = None,
        fuzzy: bool = False,
        highlight_fragments: int | None = None,
        fragment_mode: str = "term",
        offset: int = 0,
        budget_ms: float | None = None,
        search_after: tuple[float, int] | None = None,
        synonyms: dict[str, list[str]] | None = None,
        stats_fields: list[str] | None = None,
    ) -> SearchResponse:
        """`offset` pages exactly like SearchService.search: every shard
        ranks to depth k+offset (a shard may own the whole page), the
        coordinator merges under (score DESC, global doc_id ASC), then the
        page slices out — bit-identical to the single-index service.
        `budget_ms` caps per-shard evaluation wall-clock: the ranking
        fan-out ships the budget on the RPC (each parallel shard leg gets
        the full budget), the coordinator-side facet/count loops arm each
        shard service's deadline."""
        if offset < 0:
            raise ValueError(f"offset must be ≥ 0, got {offset}")
        if search_after is not None and offset:
            raise ValueError("offset and search_after are mutually exclusive")
        k = k + offset  # rank depth; sliced back to the page below
        if highlight_fragments is not None:
            highlight = True
        if synonyms is not None:
            return self._search_synonym(
                query_text, k, synonyms, facets=facets, highlight=highlight,
                fuzzy=fuzzy, filter=filter, mode=mode,
                highlight_fragments=highlight_fragments,
                fragment_mode=fragment_mode, offset=offset,
                budget_ms=budget_ms, search_after=search_after,
                stats_fields=stats_fields,
            )
        rewrites: dict[str, str] = {}
        qterms: list[str] | None = None  # analyzed-term override (fuzzy)
        qast = None  # rewritten boolean AST (fuzzy bool mode)
        an = self.services[0]._an
        if fuzzy and mode in ("and", "or"):
            # did-you-mean over the GLOBAL vocabulary: a term absent from
            # EVERY shard rewrites to the best global trigram suggestion.
            # The fixed ANALYZED list threads through directly — re-joining
            # into a query string would re-stem suggested terms.
            terms = an.analyze_query(query_text)
            per_shard_rows = self.sharded._fanout(
                lambda s: s.searcher.term_dfs(terms), self.services
            )
            fixed = []
            for t in terms:
                if any(t in r for r in per_shard_rows):
                    fixed.append(t)
                    continue
                sugg = self.sharded.suggest_terms(t, k=1)
                if sugg:
                    rewrites[t] = sugg[0][0]
                    fixed.append(sugg[0][0])
                else:
                    fixed.append(t)
            if rewrites:
                qterms = sorted(set(fixed))
        # bool mode: parse ONCE, fuzzy-rewrite against the GLOBAL
        # vocabulary, expand prefixes GLOBALLY once, and share AST +
        # expansion map between ranking, matched-set counting, idf
        # derivation, and highlighting — every consumer sees one rewrite
        expansions: dict[str, list[str]] | None = None
        if mode == "bool":
            from discogsography_spark.query.boolquery import (
                all_terms,
                expand_prefix_nodes,
                parse_bool_query,
                rewrite_fuzzy_terms,
            )

            ast = parse_bool_query(
                query_text, an.analyze_query, tokenize=an.tokenize_py
            )
            if fuzzy and ast is not None:
                from discogsography_spark.query.boolquery import all_terms

                sh = self.sharded
                # ONE batched stats round answers every vocabulary probe —
                # a per-term _global_idfs would pay a full fan-out RPC per
                # query term
                per_shard_dfs, _ = sh._global_idfs(all_terms(ast))
                vocab_hits = {
                    t for dfs in per_shard_dfs for t in dfs
                }

                def _sugg(t: str) -> str | None:
                    got = sh.suggest_terms(t, k=1)
                    return got[0][0] if got else None

                ast, rewrites = rewrite_fuzzy_terms(
                    ast, vocab_hits.__contains__, _sugg
                )
                if rewrites:
                    qast = ast
            expansions = self.sharded.global_prefix_expansions(ast)
        if filter:
            # sharded drill-down: each shard filters its own matched set
            # through its local facet code arrays, re-ranks it with GLOBAL
            # statistics (idf from summed df, combined avgdl), and the
            # coordinator merges — exact, because shards are doc-disjoint
            if mode == "bool":
                # idfs over ALL terms of the EXPANDED predicate, so a
                # prefix-expanded scoring term is never missing from the map
                expanded = (
                    expand_prefix_nodes(ast, lambda p: expansions.get(p, []))
                    if ast is not None and expansions is not None
                    else ast
                )
                score_terms = all_terms(expanded) if expanded is not None else []
            else:
                score_terms = sorted(
                    set(qterms if qterms is not None else an.analyze_query(query_text))
                )
            _, idfs = self.sharded._global_idfs(score_terms)

            def _filter_and_rank(arg: tuple[SearchService, int]):
                svc, off = arg
                with svc.searcher.deadline(budget_ms):
                    return _filter_and_rank_inner(svc, off)

            def _filter_and_rank_inner(svc: SearchService, off: int):
                m2 = svc._filtered_matched(
                    query_text, mode, filter,
                    terms=qterms, prefix_expansions=expansions,
                    ast_override=qast,
                )
                # global cursor → this shard's local id space (scores are
                # globally comparable under the injected stats)
                loc_after = (
                    (search_after[0], int(search_after[1]) - off)
                    if search_after is not None
                    else None
                )
                return (m2, svc._rank_matched(
                    query_text, mode, m2, k,
                    idfs=idfs, avgdl=self.sharded.avgdl,
                    terms=qterms, prefix_expansions=expansions,
                    ast_override=qast, after=loc_after,
                ))

            per_shard = self.sharded._fanout_heavy(
                _filter_and_rank,
                list(zip(self.services, (int(o) for o in self.offsets))),
            )
            merged: list[tuple[int, float]] = []
            for off, (_m, hits) in zip(self.offsets, per_shard):
                merged.extend((int(off) + d, x) for d, x in hits)
            merged.sort(key=lambda dx: (-dx[1], dx[0]))
            results = merged[:k]
            matched_sets = [m for m, _h in per_shard]
        else:
            if mode == "bool":
                results = self.sharded.topk_bool(
                    query_text, k, expansions=expansions, ast_override=qast,
                    budget_ms=budget_ms, after=search_after,
                )
            elif qterms is not None:
                results = self.sharded.topk(
                    query_text, k, mode=mode, terms=qterms,
                    budget_ms=budget_ms, after=search_after,
                )
            else:
                results = self.sharded.topk(
                    query_text, k, mode=mode, budget_ms=budget_ms,
                    after=search_after,
                )
            matched_sets = None
        if offset:
            results = results[offset:]
        total = 0
        acc: dict[str, dict[str, int]] = {}
        if facets is None and self.services[0]._facet_codes:
            facets = sorted(self.services[0]._facet_codes)

        def _count_shard(im: tuple[int, SearchService]):
            i, svc = im
            with svc.searcher.deadline(budget_ms):
                return _count_shard_inner(i, svc)

        def _count_shard_inner(i: int, svc: SearchService):
            matched = (
                matched_sets[i]
                if matched_sets is not None
                else svc.matched_docs(
                    query_text, mode=mode,
                    terms=qterms, prefix_expansions=expansions,
                    ast_override=qast,
                )
            )
            return (
                int(matched.size),
                svc.facet_counts(matched, facets) if facets else {},
                svc.field_stats(matched, stats_fields)
                if stats_fields
                else {},
            )

        stats_parts: list[dict] = []
        for size, fc, st in self.sharded._fanout_heavy(
            _count_shard, list(enumerate(self.services))
        ):
            total += size
            stats_parts.append(st)
            for name, pairs in fc.items():
                bucket = acc.setdefault(name, {})
                for value, n in pairs:
                    bucket[value] = bucket.get(value, 0) + n
        resp = SearchResponse(
            results=results, total_matched=total, rewrites=rewrites
        )
        if results:
            resp.next_after = (results[-1][1], results[-1][0])
        if facets:
            resp.facets = {
                name: sorted(acc.get(name, {}).items()) for name in facets
            }
        if stats_fields:
            resp.stats = _combine_stats(stats_parts)
        if highlight:
            hterms = (
                qterms
                if qterms is not None
                else self.services[0]._highlight_terms(
                    query_text, mode, prefix_expansions=expansions,
                    ast_override=qast,
                )
            )
            for gid, _ in results:
                shard = int(np.searchsorted(self.offsets, gid, side="right")) - 1
                local = gid - int(self.offsets[shard])
                resp.headlines[gid] = self.services[shard].headline(
                    local,
                    hterms,
                    max_fragments=highlight_fragments,
                    fragment_mode=fragment_mode,
                )
        return resp

    def _search_synonym(
        self,
        query_text: str,
        k: int,
        synonyms: dict[str, list[str]],
        facets: list[str] | None,
        highlight: bool,
        fuzzy: bool,
        filter: dict[str, str] | None,
        mode: str,
        highlight_fragments: int | None,
        fragment_mode: str,
        offset: int,
        budget_ms: float | None,
        search_after: tuple[float, int] | None,
        stats_fields: list[str] | None = None,
    ) -> SearchResponse:
        """Sharded synonym response: per-shard group-matched sets (facet
        vectors + totals SUM exactly — doc-disjoint shards), ranking
        through ShardedSearcher.topk_synonym (global group stats; the
        drill-down case ships each shard its LOCAL filtered matched set
        as `restrict`). k arrives already depth-extended by offset."""
        if mode != "and":
            raise ValueError(
                "synonyms compose with mode='and' (SynonymQuery is "
                f"conjunctive across groups), got mode={mode!r}"
            )
        if fuzzy:
            raise ValueError("fuzzy and synonyms are mutually exclusive")
        an = self.services[0]._an
        groups = _synonym_groups(an, query_text, synonyms)
        per_matched = self.sharded._fanout_heavy(
            lambda svc: svc.matched_docs_synonym(groups), self.services
        )
        restricts = None
        if filter:
            per_matched = [
                _facet_filter_keep(
                    svc._facet_codes, svc._facet_cats, m, filter, svc=svc
                )
                for svc, m in zip(self.services, per_matched)
            ]
            restricts = per_matched
        results = self.sharded.topk_synonym(
            query_text, k, synonyms, budget_ms=budget_ms,
            after=search_after, restricts=restricts,
        )
        if offset:
            results = results[offset:]
        resp = SearchResponse(
            results=results,
            total_matched=int(sum(m.size for m in per_matched)),
            rewrites={},
        )
        if results:
            resp.next_after = (results[-1][1], results[-1][0])
        if facets is None and self.services[0]._facet_codes:
            facets = sorted(self.services[0]._facet_codes)
        if facets:
            acc: dict[str, dict[str, int]] = {}
            for svc, m in zip(self.services, per_matched):
                for name, pairs in svc.facet_counts(m, facets).items():
                    bucket = acc.setdefault(name, {})
                    for value, n in pairs:
                        bucket[value] = bucket.get(value, 0) + n
            resp.facets = {
                name: sorted(acc.get(name, {}).items()) for name in facets
            }
        if stats_fields:
            resp.stats = _combine_stats(
                self.sharded._fanout_heavy(
                    lambda sm: sm[0].field_stats(sm[1], stats_fields),
                    list(zip(self.services, per_matched)),
                )
            )
        if highlight:
            hterms = sorted({x for _, ms in groups for x in ms})
            for gid, _ in results:
                shard = (
                    int(np.searchsorted(self.offsets, gid, side="right")) - 1
                )
                local = gid - int(self.offsets[shard])
                resp.headlines[gid] = self.services[shard].headline(
                    local, hterms, max_fragments=highlight_fragments,
                    fragment_mode=fragment_mode,
                )
        return resp

    def significant_terms(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "and",
        sample_per_shard: int | None = 1000,
        min_doc_count: int = 3,
        budget_ms: float | None = None,
    ) -> list[tuple[str, int, int, float]]:
        """Significant-terms (JLH) across shards, identical to a single
        whole-corpus index when discovery isn't truncated: per-shard
        EXACT fg counts (posting∩matched on each shard) SUM — shards are
        doc-disjoint — and background dfs come from the same stats RPC
        the ranked fan-out uses (df numbers only, no posting data moves).
        Candidate discovery samples ≤sample_per_shard matched docs on
        EACH shard (global statistics stay exact for every candidate).

        `budget_ms` is ONE wall-clock allowance for the WHOLE request
        (the single-index semantics): each sequential phase — discovery
        fan-out, global stats RPC, fg-count RPC — receives only the
        REMAINING budget, so an expired request aborts within one
        bounded unit of work instead of granting every phase a fresh
        allowance (which let a 250 ms budget run for ~3 phases × 250 ms
        plus transport before raising)."""
        t_start = time.monotonic()

        def _remaining() -> float | None:
            if budget_ms is None:
                return None
            left = budget_ms - (time.monotonic() - t_start) * 1000.0
            if left <= 0:
                raise QueryBudgetExceeded(
                    budget_ms, (time.monotonic() - t_start) * 1000.0
                )
            return left

        def _discover(svc: SearchService):
            # phase 1 (coordinator threads): parallel legs share the
            # remaining allowance
            with svc.searcher.deadline(_remaining()):
                return _discover_inner(svc)

        def _discover_inner(svc: SearchService):
            matched = svc.matched_docs(query_text, mode=mode)
            ids = (
                matched
                if sample_per_shard is None
                or matched.size <= sample_per_shard
                else matched[:sample_per_shard]
            )
            return matched, svc._candidate_terms(ids)

        parts = self.sharded._fanout_heavy(_discover, self.services)
        n_matched = sum(int(m.size) for m, _ in parts)
        if n_matched == 0:
            return []
        exclude = set(self.services[0]._an.analyze_query(query_text))
        union_cand = sorted(
            set().union(*(c for _m, c in parts)) - exclude
        )
        # phase 2: ONE global stats RPC, then prune candidates whose
        # GLOBAL df can't reach min_doc_count — exact (fg ≤ df) and it
        # keeps the tail vocabulary out of phase 3's decodes entirely
        # (the remaining budget rides the RPC: the dictionary fetch for
        # thousands of candidates is itself seconds-scale at sf1.0)
        per_shard_dfs, _idfs = self.sharded._global_idfs(
            union_cand, budget_ms=_remaining()
        )
        dfs = {
            t: sum(r.get(t, 0) for r in per_shard_dfs) for t in union_cand
        }
        keep = [t for t in union_cand if dfs[t] >= min_doc_count]
        if not keep:
            return []
        # phase 3 (worker-pool RPC, parallel across shard processes):
        # exact per-shard fg = posting∩matched for every kept candidate;
        # doc-disjoint shards, so the maps SUM
        # matched ids cross the RPC varbyte+delta-compressed (~1 byte/doc
        # for dense head queries instead of 8 — the dominant transport
        # cost of the r6 tail: a 10.7M-doc matched set was ~86 MB pickled)
        from discogsography_spark.codec import delta_encode, varbyte_encode

        kws: list[dict] = [
            {
                "matched_vb": varbyte_encode(
                    delta_encode(np.asarray(m, dtype=np.int64))
                ),
                "terms": keep,
            }
            for m, _c in parts
        ]
        if budget_ms is not None:
            left = _remaining()
            kws = [{**kw, "_budget_ms": left} for kw in kws]
        fgs = self.sharded._call_shards("sig_fg_counts", kws)
        fg: dict[str, int] = {}
        for part in fgs:
            for t, n in (part or {}).items():
                fg[t] = fg.get(t, 0) + n
        return _jlh_rows(
            fg, dfs, n_matched, self.sharded.n_docs, exclude,
            min_doc_count, k,
        )

    def collapse(
        self,
        query_text: str,
        field: str,
        k: int,
        mode: str = "and",
        counts: bool = True,
        probe_k: int | None = None,
    ) -> list[tuple]:
        """Field-collapsed search across shards — bit-identical to the
        single-index service. Grouping happens at the COORDINATOR on the
        globally-exact fan-out ranking (ShardedSearcher injects global
        stats), with group labels resolved through each owning shard's
        docmap — exact for ANY group field, shard-spanning groups
        included, because the deepening loop (query/collapse.py) only ever
        consumes the global ranked order. group_matched sums per-shard
        bincounts by label (the facet-count recipe)."""
        from discogsography_spark.query.collapse import collapse_topk

        per = [svc._collapse_codes(field) for svc in self.services]
        offsets = self.offsets

        def group_of(gd: int) -> str:
            si = int(np.searchsorted(offsets, gd, side="right")) - 1
            codes, cats = per[si]
            return cats[codes[gd - int(offsets[si])]]

        expansions: dict[str, list[str]] | None = None
        if mode == "bool":
            from discogsography_spark.query.boolquery import parse_bool_query

            an = self.services[0]._an
            ast = parse_bool_query(
                query_text, an.analyze_query, tokenize=an.tokenize_py
            )
            # ONE global prefix/wildcard rewrite shared between ranking
            # and counting, the ShardedSearchService.search contract
            expansions = self.sharded.global_prefix_expansions(ast)
            fn = lambda kp: self.sharded.topk_bool(  # noqa: E731
                query_text, kp, expansions=expansions
            )
        else:
            fn = lambda kp: self.sharded.topk(  # noqa: E731
                query_text, kp, mode=mode
            )
        rows = collapse_topk(fn, group_of, k, probe_k=probe_k)
        if not counts:
            return rows

        def _count_shard(svc):
            m = svc.matched_docs(
                query_text, mode=mode, prefix_expansions=expansions
            )
            codes, cats = svc._collapse_codes(field)
            c = np.bincount(codes[m], minlength=len(cats)) if m.size else None
            return cats, c

        label_counts: dict[str, int] = {}
        for cats, c in self.sharded._fanout_heavy(_count_shard, self.services):
            if c is None:
                continue
            for i in np.flatnonzero(c):
                label_counts[cats[i]] = label_counts.get(cats[i], 0) + int(c[i])
        return [(g, d, s, label_counts.get(g, 0)) for g, d, s in rows]

    def context(
        self, doc_id: int, window: int = 2, text: bool = False
    ) -> list[tuple]:
        """Conversation context through the owning shard (conversations
        never span shards — the router/sharding layout is conv-range
        disjoint), docIDs re-offset to the global space."""
        si = int(np.searchsorted(self.offsets, doc_id, side="right")) - 1
        off = int(self.offsets[si])
        rows = self.services[si].context(doc_id - off, window, text=text)
        return [(d + off, *rest) for d, *rest in rows]

    def _mlt_source_tokens(self, doc_id: int) -> list[str]:
        si = int(np.searchsorted(self.offsets, doc_id, side="right")) - 1
        return self.services[si]._mlt_source_tokens(
            doc_id - int(self.offsets[si])
        )

    def _mlt_stats(self, terms: list[str]):
        sh = self.sharded
        per = sh._fanout(
            lambda svc: svc.searcher.term_dfs(terms), self.services
        )
        dfs: dict[str, int] = {}
        for r in per:
            for t, n in r.items():
                dfs[t] = dfs.get(t, 0) + int(n)
        return dfs, sh.n_docs, sh.params

    def _mlt_or_eval(self, terms: list[str]):
        # global-stats OR fan-out — bit-identical to a whole-corpus index
        return lambda kp: self.sharded.topk("", kp, mode="or", terms=terms)

    def more_like_this(
        self, doc_id: int, k: int, max_terms: int = 8, min_df: int = 2,
        max_df_frac: float = 0.25,
    ) -> list[tuple[int, float]]:
        """More-like-this across shards: term selection over GLOBAL df
        (summed per-shard stats RPC), neighbors from the global-stats OR
        fan-out — bit-identical to the single-index service."""
        from discogsography_spark.query.mlt import service_more_like_this

        return service_more_like_this(
            self, doc_id, k, max_terms=max_terms, min_df=min_df,
            max_df_frac=max_df_frac,
        )


class MergedSearchService(SearchService):
    """Full search response (results + facets + total_matched + headlines +
    drill-down + aggregations) over the LIVE merged base+delta+tombstone
    view — a streaming deployment serves the same shape as a compacted
    index, without pausing between compactions.

    It is SearchService with a tombstone mask: every response method is
    the base class's. This class overrides only the view primitives —
    opening the MergedSearcher and `reopen()` (reloads the view state),
    `_docmap_dirs` (base plus every delta docmap), `matched_docs` /
    `matched_docs_synonym` and `_score_matched` (alive merged relations),
    `_term_docs` (significant-terms postings), `_dead_ids` (tombstones),
    `grouped_topk` (full-depth evaluator ranking) and `_search_topk` (OR
    ranks through the boolean evaluator).

    `n_docs` is the id space, dead slots included. After compact(), an
    instance opened fresh equals the single-index SearchService response
    bit-for-bit (tested)."""

    def _open(self, index_dir: str) -> None:
        from discogsography_spark.streaming.incremental import MergedSearcher

        self.searcher = MergedSearcher(index_dir)
        # the BASE index's meta (analyzer, store_text flag); corpus
        # statistics are the searcher's alive counts
        self.meta = self.searcher.base.meta

    def reopen(self) -> bool:
        """Advance the underlying live view to the latest committed
        deltas (MergedSearcher.reopen) and rebuild the view-derived facet/
        text/collapse/context state when it moved — the long-lived serving
        node's refresh between compactions (the reference's consumers see
        each batch as it lands, tableinator/batch_processor.py:151-215).
        Returns True iff anything changed; False is a pure no-op."""
        if not self.searcher.reopen():
            return False
        self.meta = self.searcher.base.meta
        self._load_view_state()
        return True

    def _docmap_dirs(self) -> list[str]:
        return super()._docmap_dirs() + [
            os.path.join(d, "docs")
            for d in self.searcher._delta_dirs
            if os.path.isdir(os.path.join(d, "docs"))
        ]

    def _dead_ids(self) -> np.ndarray:
        return self.searcher._dead

    def matched_docs(
        self,
        query_text: str,
        mode: str = "and",
        terms: list[str] | None = None,
        prefix_expansions: dict[str, list[str]] | None = None,
        ast_override=None,
    ) -> np.ndarray:
        """Alive matched set from the merged (tombstone-masked) relations —
        the SearchService.matched_docs contract on the live view."""
        from discogsography_spark.query.engine import isect_sorted

        s = self.searcher
        empty = np.empty(0, dtype=np.int64)
        if mode == "bool":
            from discogsography_spark.query.boolquery import (
                all_terms,
                eval_docsets,
            )

            ast = self._bool_ast(query_text, prefix_expansions, ast_override)
            if ast is None:
                return empty
            merged = s._merged_rows(all_terms(ast))
            return eval_docsets(
                ast,
                lambda t: merged[t][0] if merged.get(t) is not None else empty,
                phrase_docs_of=lambda ph: s._merged_phrase_doc_set(list(ph)),
                within_docs_of=s._merged_within_doc_set,
            )
        if terms is None:
            terms = self._an.analyze_query(query_text)
        uniq = sorted(set(terms))
        if not uniq:
            return empty
        merged = s._merged_rows(uniq)
        arrs = [merged[t][0] for t in uniq if merged[t] is not None]
        if mode == "or":
            return np.unique(np.concatenate(arrs)) if arrs else empty
        if len(arrs) != len(uniq):
            return empty
        cand = arrs[0]
        for d in sorted(arrs[1:], key=lambda a: a.size):
            cand = isect_sorted(cand, d)
            if cand.size == 0:
                break
        return cand

    def matched_docs_synonym(
        self, groups: list[tuple[str, list[str]]]
    ) -> np.ndarray:
        """Matched set of a synonym query over the ALIVE live view — the
        merged relations are already tombstone-masked, so deleted turns
        never match and upserts match once (latest version)."""
        s = self.searcher
        members = sorted({x for _, ms in groups for x in ms})
        rels = s._merged_rows(members)
        return _group_union_intersection(
            groups,
            lambda t: rels[t][0] if rels.get(t) is not None else None,
        )

    def _term_docs(
        self, terms: list[str]
    ) -> tuple[dict[str, int], Callable[[str], np.ndarray]]:
        # alive merged relations: df is the ALIVE df
        rels = self.searcher._merged_rows(terms)
        return (
            {t: int(e[0].size) for t, e in rels.items() if e is not None},
            lambda t: rels[t][0],
        )

    def _score_matched(
        self,
        query_text: str,
        mode: str,
        matched: np.ndarray,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        terms: list[str] | None = None,
        prefix_expansions: dict[str, list[str]] | None = None,
        ast_override=None,
    ) -> np.ndarray:
        """Exact BM25 over the alive merged relations with combined
        base+delta stats (or a live sharded coordinator's injected GLOBAL
        ones), sorted-term accumulation — SearchService._score_matched on
        the live view."""
        s = self.searcher
        p = s.params
        if avgdl is None:
            avgdl = s.avgdl
        uniq = sorted(set(self._scoring_terms(
            query_text, mode, terms, prefix_expansions, ast_override
        )))
        merged = s._merged_rows(uniq)
        scores = np.zeros(matched.size, dtype=np.float64)
        for t in uniq:  # fixed summation order
            ent = merged.get(t)
            if ent is None:
                continue
            d, tf, dl = ent
            pos = np.searchsorted(d, matched)
            ok = pos < d.size
            mask = np.zeros(matched.size, dtype=bool)
            mask[ok] = d[pos[ok]] == matched[ok]
            sel = pos[mask]
            idf = (
                idfs[t]
                if idfs is not None and t in idfs
                else p.idf(s.n_docs, int(d.size))
            )
            tfv = tf[sel].astype(np.float64)
            norm = p.k1 * (
                1.0 - p.b + p.b * (dl[sel].astype(np.float64) / avgdl)
            )
            scores[mask] = scores[mask] + idf * (tfv / (tfv + norm))
        return scores

    def grouped_topk(
        self,
        query_text: str,
        field: str,
        k: int,
        mode: str = "and",
    ) -> list[tuple[str, float, float, float, int]]:
        """Grouped relevance over the ALIVE live view — same contract as
        SearchService.grouped_topk (deleted turns never score, upserts
        score once)."""
        # rank through the pruned evaluators at full depth (top-k of the
        # whole matched set IS the matched set scored): the dense-bitmap
        # fast paths apply, where a probe-per-term scoring of the matched
        # set pays O(|matched| · terms · log df) — measured 902 ms vs
        # ~15 ms on the dense worst query at sf0.1
        hits = self._collapse_eval(query_text, mode)(2**31)
        codes, cats = self._collapse_codes(field)
        return _grouped_rows(hits, codes, cats, k)

    def _search_topk(
        self,
        query_text: str,
        k: int,
        mode: str,
        qterms: list[str] | None,
        qast,
        after: tuple[float, int] | None,
    ) -> list[tuple[int, float]]:
        # the live view has no dedicated OR evaluator: OR queries and
        # did-you-mean term lists rank through the boolean evaluator on a
        # flat node; plain AND takes the pruned conjunctive topk
        s = self.searcher
        if qterms is None:
            if qast is not None or mode == "bool":
                return s.topk_bool(query_text, k, ast_override=qast, after=after)
            if mode != "or":
                return s.topk(query_text, k, after=after)
        ts = qterms if qterms is not None else sorted(
            set(self._an.analyze_query(query_text))
        )
        if not ts:
            return []
        node = (
            ("term", ts[0])
            if len(ts) == 1
            else ("or" if mode == "or" else "and", tuple(("term", t) for t in ts))
        )
        return s.topk_bool(query_text, k, ast_override=node, after=after)
