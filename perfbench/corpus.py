"""Seeded inputs: a Zipfian transcripts corpus, query sets and live
micro-batches. Everything here depends only on the seed and the sizes the
workloads pass in; nothing is read from the program under test.

The make-up follows the repository's fixture spec (FIXTURES.md §1 and §2),
which the program's own generator also implements; the benchmark keeps a
generator of its own so that a fault there cannot shape its inputs.

Corpus (§1): the transcripts schema (conv_id, turn_idx, role, text, tool,
ts); Poisson(10) turns per conversation; lognormal(2.5, 0.8) tokens per
turn; tokens are vocabulary words ``t<rank>`` drawn from Zipf(1.3) over
20,000 ranks. Edge cases at fixed rates, their places seeded: upper-case
tokens, trailing punctuation, unicode fragments, empty turns and
turns over 10 KB.

Queries (§2): 1-5 terms from the corpus's own term frequencies, in a fixed
cycle of head terms, rare terms, head + rare, several head terms, absent
terms (empty AND result), case/punctuation variants and general top-200
draws; k cycles over 10, 10, 100.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

VOCAB = 20_000
ZIPF_A = 1.3
MEAN_TURNS_PER_CONV = 10
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "bash", "read_file", "write_file", "browser"])
_WORDS = np.array([f"t{i}" for i in range(VOCAB)], dtype=object)

UPPER_RATE = 0.04  # tokens written in upper case ("T12")
EMPTY_RATE = 0.005  # turns with empty text
UNICODE_RATE = 0.01  # turns that start with a unicode fragment
LONG_EVERY = 2500  # one turn over LONG_BYTES per this many turns, at least one
LONG_TOKENS = 3000
LONG_BYTES = 10 * 1024
# lowercases to the same letters in Python and in Spark's lower(); the
# [a-z0-9]+ tokenizer splits it into n, code, emoji, caf, na, ve
UNICODE_FRAGMENT = "ünïcode—emoji🙂 Café naïve 日本語"

HEAD_TOP = 10  # head terms: the most frequent ranks
GENERAL_TOP = 200
RARE_MAX_CF = 3
K_CYCLE = (10, 10, 100)
QUERY_CLASSES = 10 * len(K_CYCLE)  # (kind, k) classes: query i is in class i % 30


def _zipf_ranks(rng: np.random.Generator, size: int) -> np.ndarray:
    """Zipf(ZIPF_A) truncated to VOCAB ranks, 0-based. Draws past the
    vocabulary are drawn again: clipping them would pile about 4% of all
    tokens onto the last rank and make it a head term."""
    ranks = rng.zipf(ZIPF_A, size)
    while True:
        over = np.flatnonzero(ranks > VOCAB)
        if over.size == 0:
            return ranks - 1
        ranks[over] = rng.zipf(ZIPF_A, over.size)


def make_turns(n_turns: int, seed: int, conv_prefix: str = "c") -> pd.DataFrame:
    """About `n_turns` turns in whole conversations named
    ``<conv_prefix><number>``; (conv_id, turn_idx) is unique."""
    rng = np.random.default_rng(seed)
    per_conv = rng.poisson(MEAN_TURNS_PER_CONV, n_turns // 4 + 8).clip(1, 60)
    n_conv = int(np.searchsorted(np.cumsum(per_conv), n_turns)) + 1
    per_conv = per_conv[:n_conv]
    n = int(per_conv.sum())
    conv_ids = np.repeat(
        np.array([f"{conv_prefix}{i:07d}" for i in range(n_conv)], dtype=object),
        per_conv,
    )
    turn_idx = np.concatenate([np.arange(c) for c in per_conv]).astype(np.int32)
    roles = ROLES[rng.integers(0, len(ROLES), n)]
    tools = np.where(roles == "tool", TOOLS[rng.integers(0, len(TOOLS), n)], None)
    toks_per_turn = np.maximum(1, rng.lognormal(2.5, 0.8, n).astype(np.int64))
    long_turns = rng.choice(n, max(1, n // LONG_EVERY), replace=False)
    toks_per_turn[long_turns] = LONG_TOKENS
    words = _WORDS[_zipf_ranks(rng, int(toks_per_turn.sum()))]
    upper = np.flatnonzero(rng.random(words.size) < UPPER_RATE)
    words[upper] = [w.upper() for w in words[upper]]
    punct = rng.random(words.size)
    words = np.where(punct < 0.05, words + ",", words)
    words = np.where(punct > 0.97, words + ".", words)
    words = np.where((punct > 0.05) & (punct < 0.06), words + "!!", words)
    texts = [" ".join(c) for c in np.split(words, np.cumsum(toks_per_turn)[:-1])]
    for i in long_turns:
        while len(texts[i]) <= LONG_BYTES:
            texts[i] = texts[i] + " " + texts[i]
    kind = rng.random(n)
    for i in np.flatnonzero(kind < UNICODE_RATE):
        texts[i] = UNICODE_FRAGMENT + " " + texts[i]
    for i in np.flatnonzero(kind > 1.0 - EMPTY_RATE):
        texts[i] = ""
    ts = np.datetime64("2026-01-01T00:00:00") + np.arange(n).astype("timedelta64[s]")
    return pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_idx,
            "role": roles,
            "tool": tools,
            "text": np.array(texts, dtype=object),
            "ts": ts.astype("datetime64[us]"),
        }
    )


class Vocabulary:
    """Terms of a corpus by collection frequency, from already tokenized
    turns."""

    def __init__(self, token_lists) -> None:
        cf = Counter(t for toks in token_lists for t in toks)
        self.by_freq = sorted(cf, key=lambda t: (-cf[t], t))
        self.rare = [t for t in self.by_freq if cf[t] <= RARE_MAX_CF] or self.by_freq[-40:]


def _variant(rng: np.random.Generator, terms: list[str]) -> str:
    """The same terms as the analyzer sees them, in another case and with
    punctuation and extra white space around them."""
    styled = [
        (t.upper(), t)[int(rng.integers(0, 2))] + ("!!", ",", "?", ".")[int(rng.integers(0, 4))]
        for t in terms
    ]
    return "  " + "  ".join(styled) + " "


def term_queries(rng: np.random.Generator, vocab: Vocabulary, n: int) -> list[tuple[str, int]]:
    """`n` (query, k) pairs. The i-th query's kind is fixed by i % 10, so
    any run of the pool holds the same make-up; only the terms are drawn."""
    head = vocab.by_freq[:HEAD_TOP]
    general = vocab.by_freq[:GENERAL_TOP]

    def pick(words: list[str], m: int) -> list[str]:
        return [str(w) for w in rng.choice(words, size=min(m, len(words)), replace=False)]

    def absent() -> str:
        return f"zz{int(rng.integers(0, 10**6))}q"  # no corpus token starts with z

    out = []
    for i in range(n):
        kind = i % 10
        if kind == 0:
            q = pick(head, 1)
        elif kind == 1:
            q = pick(vocab.rare, 1)
        elif kind == 2:
            q = pick(head, 1) + pick(vocab.rare, 1)
        elif kind == 3:
            q = pick(head, int(rng.integers(2, 4)))
        elif kind == 4:
            q = [absent()] if i % 20 == 4 else pick(head, 1) + [absent()]
        elif kind == 5:
            out.append((_variant(rng, pick(general, int(rng.integers(1, 3)))), K_CYCLE[i % 3]))
            continue
        else:
            q = pick(general, int(rng.integers(1, 6)))
        out.append((" ".join(q), K_CYCLE[i % 3]))
    return out


def phrase_queries(rng: np.random.Generator, token_lists, n: int) -> list[tuple[str, int]]:
    """`n` (phrase, k) pairs: two words copied from adjacent tokens of
    random turns, so every phrase has at least one hit."""
    out = []
    docs = [t for t in token_lists if len(t) >= 2]
    for i, d in enumerate(rng.integers(0, len(docs), n)):
        toks = docs[int(d)]
        j = int(rng.integers(0, len(toks) - 1))
        out.append((f"{toks[j]} {toks[j + 1]}", K_CYCLE[i % 3]))
    return out


def blocked_order(rng: np.random.Generator, n: int, period: int) -> np.ndarray:
    """A seeded visiting order of pool entries 0..n-1 made of blocks of
    `period` entries, one of each class i % period, in seeded order within
    the block. Any whole number of blocks has exactly the pool's make-up."""
    classes = [rng.permutation(np.arange(c, n, period)) for c in range(period)]
    blocks = [np.array([classes[c][j] for c in rng.permutation(period)]) for j in range(n // period)]
    return np.concatenate(blocks)
