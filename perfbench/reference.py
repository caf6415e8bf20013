"""Independent reference model and output checks.

Nothing here imports the program under test: the tokenizer (lowercase,
``[a-z0-9]+``), the dense docID rank over (conv_id, turn_idx) and BM25
(Lucene idf, k1=1.2, b=0.75, per-term partials summed in sorted term
order, ties broken by doc ASC) are written out again from their
definitions so that a fault in the program's own oracle cannot hide a
fault in its index.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

TOKEN_RE = re.compile(r"[a-z0-9]+")
K1 = 1.2
B = 0.75
SCORE_RTOL = 1e-9


class CheckFailed(AssertionError):
    pass


def tokenize(text) -> list[str]:
    return TOKEN_RE.findall(text.lower()) if text else []


def query_terms(query: str) -> list[str]:
    return sorted(set(tokenize(query)))


def dense_rank(conv_ids, turn_idx) -> np.ndarray:
    """docID of each row = its rank in the (conv_id, turn_idx) order."""
    order = sorted(range(len(conv_ids)), key=lambda i: (conv_ids[i], int(turn_idx[i])))
    ids = np.empty(len(order), dtype=np.int64)
    ids[np.asarray(order, dtype=np.int64)] = np.arange(len(order), dtype=np.int64)
    return ids


class Model:
    """BM25 over the live documents of an append-only docID space:
    `add` inserts documents under given docIDs, `kill` tombstones them."""

    def __init__(self) -> None:
        self.tokens: dict[int, list[str]] = {}
        self.alive: set[int] = set()
        self._post: dict[str, list[tuple[int, int]]] = {}
        self._arrays: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self.total_tokens = 0

    def add(self, doc_ids, token_lists) -> None:
        for d, toks in zip(doc_ids, token_lists):
            d = int(d)
            self.tokens[d] = toks
            self.alive.add(d)
            self.total_tokens += len(toks)
            for t, tf in Counter(toks).items():
                self._post.setdefault(t, []).append((d, tf))
        self._arrays.clear()

    def kill(self, doc_ids) -> None:
        for d in doc_ids:
            d = int(d)
            if d in self.alive:
                self.alive.remove(d)
                self.total_tokens -= len(self.tokens[d])
        self._arrays.clear()

    @property
    def n_docs(self) -> int:
        return len(self.alive)

    @property
    def avgdl(self) -> float:
        return self.total_tokens / self.n_docs if self.n_docs else 1.0

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        got = self._arrays.get(term)
        if got is None:
            live = sorted(p for p in self._post.get(term, ()) if p[0] in self.alive)
            docs = np.array([d for d, _ in live], dtype=np.int64)
            tfs = np.array([tf for _, tf in live], dtype=np.int64)
            got = self._arrays[term] = (docs, tfs)
        return got

    def idf(self, term: str) -> float:
        df = self.postings(term)[0].size
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def _scores(self, terms: list[str], docs: np.ndarray) -> np.ndarray:
        dl = np.array([len(self.tokens[int(d)]) for d in docs], dtype=np.float64)
        norm = K1 * (1.0 - B + B * dl / self.avgdl)
        score = np.zeros(docs.size, dtype=np.float64)
        for t in terms:  # sorted order: the summation order BM25 fixes
            pd_, ptf = self.postings(t)
            if pd_.size == 0:  # absent term (OR mode): contributes nothing
                continue
            pos = np.searchsorted(pd_, docs)
            ok = (pos < pd_.size) & (pd_[np.minimum(pos, pd_.size - 1)] == docs)
            tf = np.where(ok, ptf[np.minimum(pos, pd_.size - 1)], 0).astype(np.float64)
            score = score + self.idf(t) * (tf / (tf + norm))
        return score

    def matches(self, terms: list[str], mode: str = "and") -> np.ndarray:
        lists = [self.postings(t)[0] for t in terms]
        if not lists:
            return np.empty(0, dtype=np.int64)
        if mode == "or":
            return np.unique(np.concatenate(lists))
        out = lists[0]
        for x in lists[1:]:
            out = np.intersect1d(out, x, assume_unique=True)
        return out

    def topk(self, query: str, k: int, mode: str = "and"):
        """([(doc, score)] ordered (score DESC, doc ASC), matched count)."""
        terms = query_terms(query)
        docs = self.matches(terms, mode)
        scores = self._scores(terms, docs)
        order = np.lexsort((docs, -scores))[:k]
        return [(int(docs[i]), float(scores[i])) for i in order], int(docs.size)

    def phrase_docs(self, phrase: str) -> set[int]:
        words = tokenize(phrase)
        cand = self.matches(sorted(set(words)))
        return {int(d) for d in cand if contains_run(self.tokens[int(d)], words)}


def contains_run(tokens: list[str], words: list[str]) -> bool:
    n = len(words)
    return any(tokens[i : i + n] == words for i in range(len(tokens) - n + 1))


# ---- checks -------------------------------------------------------------


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def check_ordered(got, what: str) -> None:
    """(score DESC, doc ASC), no doc twice."""
    for (d0, s0), (d1, s1) in zip(got, got[1:]):
        check(s0 > s1 or (s0 == s1 and d0 < d1), f"{what}: out of order at doc {d1}")
    check(len({d for d, _ in got}) == len(got), f"{what}: duplicate doc")


def check_topk(got, want, n_matched: int, k: int, what: str) -> None:
    """Exact docIDs, scores to SCORE_RTOL, length min(k, matched)."""
    check_ordered(got, what)
    check(len(got) == min(k, n_matched), f"{what}: {len(got)} hits, want {min(k, n_matched)}")
    check([d for d, _ in got] == [d for d, _ in want], f"{what}: docIDs differ")
    for (_, s), (_, w) in zip(got, want):
        check(abs(s - w) <= SCORE_RTOL * abs(w), f"{what}: score {s!r} != {w!r}")


def check_same_ranking(got, want, what: str) -> None:
    check([d for d, _ in got] == [d for d, _ in want], f"{what}: docIDs differ")
    for (_, s), (_, w) in zip(got, want):
        check(abs(s - w) <= SCORE_RTOL * abs(w), f"{what}: score {s!r} != {w!r}")


def check_facets(facets: dict, total_matched: int, n_matched: int, what: str) -> None:
    check(total_matched == n_matched, f"{what}: total_matched {total_matched} != {n_matched}")
    role = sum(c for _, c in facets.get("role", []))
    check(role == total_matched, f"{what}: role facets sum {role} != {total_matched}")


def check_headline(headline: str, text: str, query: str, what: str) -> None:
    """The highlighter marks analyzed query terms where they occur in the
    stored text as written (case-sensitive substrings): a hit carries a
    mark exactly when its text holds one of them so."""
    want = any(t in text for t in query_terms(query))
    check(("<<" in headline) == want, f"{what}: {'no' if want else 'a'} highlight")


def check_phrase(got, model: Model, phrase: str, k: int, what: str) -> None:
    check_ordered(got, what)
    hits = model.phrase_docs(phrase)
    for d, _ in got:
        check(d in hits, f"{what}: doc {d} lacks the phrase")
    check(len(got) == min(k, len(hits)), f"{what}: {len(got)} hits, want {min(k, len(hits))}")


def check_alive(got, dead: set[int], what: str) -> None:
    for d, _ in got:
        check(d not in dead, f"{what}: tombstoned doc {d} returned")


def check_postings(manifest_postings: int, token_lists, what: str = "manifest") -> None:
    """Summed postings = summed distinct terms per document."""
    want = sum(len(set(t)) for t in token_lists)
    check(manifest_postings == want, f"{what}: {manifest_postings} postings, want {want}")


def check_n_docs(got: int, model: Model, what: str) -> None:
    check(got == model.n_docs, f"{what}: n_docs {got} != {model.n_docs}")


def check_identical(digests: list[str], what: str = "builds") -> None:
    check(len(set(digests)) == 1, f"{what}: {len(set(digests))} distinct contents")
