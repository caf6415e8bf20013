"""Boolean full-text query language: AND / OR / NOT with parentheses.

The reference app issues only conjunctive `plainto_tsquery` searches
(/root/reference/api/queries/search_queries.py:228), but the PostgreSQL FTS
engine underneath it accepts full boolean tsqueries (`to_tsquery('a & (b |
c) & !d')`), and Lucene's BooleanQuery is the same shape — so a user of the
reference stack can and does run these. This module is the engine-neutral
front half: a parser producing a normalized AST plus the shared semantics
used identically by the serving path (`LocalSearcher.topk_bool`), the
DataFrame path (`bm25_bool_topk_dataframe`), the pure-Python oracle, and the
DuckDB oracle SQL:

- match  = the boolean predicate over per-term containment;
- score  = BM25 summed over the doc's PRESENT positive-polarity terms, in
  sorted term order (the repo-wide float-determinism discipline); negated
  terms never score (matching docs can't contain them except under OR);
- queries satisfiable by a document containing NO query term (pure
  negation, e.g. `NOT x`, or vacuous OR arms) are rejected — matching the
  complement of a posting list is a full-corpus scan at any scale, and
  PostgreSQL FTS rejects the same shape.

Grammar (keywords case-insensitive; adjacency = AND, websearch-style):

    expr   := and_e (OR and_e)*
    and_e  := unary (AND? unary)*
    unary  := NOT unary | '(' expr ')' | WORD | WORD* | "QUOTED PHRASE"

Each WORD runs through the index analyzer (stemming/stopwords identical to
the corpus side); a word analyzing to nothing (stopword) vanishes from its
group, a word analyzing to several tokens becomes their conjunction. A
double-quoted span is a PHRASE node — matched as consecutive tokens (the
websearch_to_tsquery '"a b" OR c' surface); its words pass through the
analyzer's ORDERED tokenizer (an ordered-tokenize callable is taken as the
optional `tokenize` argument; stopword-dropping analyzers compact the
phrase, exactly like phraseto_tsquery).

A trailing `*` makes a PREFIX node (Lucene PrefixQuery inside BooleanQuery;
`spa*` matches any vocabulary term starting with "spa", expanded with the
same deterministic term-ASC cap as autocomplete).

`a <N> b` makes a WITHIN node — the tsquery `<->`/`<N>` distance-operator
family composed with AND/OR/NOT, carrying this engine's proximity
semantics (LocalSearcher.topk_within: the two analyzed terms within N
token positions, EITHER order; tsquery's is ordered-exact-distance — ours
is the Lucene sloppy-phrase shape the proximity surface already serves).
Chains compose n-arily: `a <N1> b <N2> c` matches docs admitting
occurrences p1..pn with |p_{i+1} − p_i| ≤ N_i per link (adjacent equal
terms need DISTINCT occurrences; non-adjacent repeats may reuse one) —
the chained tsquery phrase/distance shape behind websearch_to_tsquery.
Operands must be single analyzed terms; all score as ordinary
positive-polarity terms when the doc matches, exactly like phrase terms.

AST nodes are plain tuples — ('term', str) | ('prefix', str) |
('wild', pattern) |
('phrase', (str, …)) | ('within', (str, …), (int, …)) | ('and',
(nodes…)) | ('or', (nodes…)) | ('not', node) — hashable, so result
caches can key on them directly. A within node's windows tuple always
has len(terms) − 1 entries (the 2-term form is ((t1, t2), (N,))).
"""

from __future__ import annotations

import re
from typing import Callable

_TOKEN_RE = re.compile(r"\"[^\"]*\"|\(|\)|[^\s()\"]+")
_KEYWORDS = {"and": "AND", "or": "OR", "not": "NOT"}
_NEAR_RE = re.compile(r"^<(\d+)>$|^<->$")  # <N> distance operator; <-> = <1>

Node = tuple  # ('term', str) | ('and', tuple) | ('or', tuple) | ('not', Node)


class BoolQueryError(ValueError):
    pass


def parse_bool_query(
    query_text: str,
    analyze: Callable[[str], list[str]],
    tokenize: Callable[[str], list[str]] | None = None,
) -> Node | None:
    """Parse to a normalized AST; None if the query analyzes to nothing.
    `analyze` maps one raw word to its index tokens (possibly empty);
    `tokenize` (optional) is the ORDERED tokenizer used for quoted phrases
    — defaults to analyzing word-by-word in order."""
    raw = _TOKEN_RE.findall(query_text)
    toks: list[str] = []
    for t in raw:
        if t.startswith('"'):
            toks.append(t)  # quoted span, handled in parse_unary
        else:
            toks.append(_KEYWORDS.get(t.lower(), t) if t not in "()" else t)
    pos = 0

    def phrase_tokens(inner: str) -> list[str]:
        if tokenize is not None:
            return tokenize(inner)
        out: list[str] = []
        for w in inner.split():
            out.extend(analyze(w))
        return out

    def peek() -> str | None:
        return toks[pos] if pos < len(toks) else None

    def take() -> str:
        nonlocal pos
        pos += 1
        return toks[pos - 1]

    def parse_or() -> Node | None:
        nodes = [parse_and()]
        while peek() == "OR":
            take()
            nodes.append(parse_and())
        # a stopword-only OR arm is unsatisfiable (stopwords are never
        # indexed) — drop it, exactly as to_tsquery('a | <stopword>')
        # reduces to 'a' in PostgreSQL
        kept = [n for n in nodes if n is not None]
        if not kept:
            return None
        return kept[0] if len(kept) == 1 else ("or", tuple(kept))

    def parse_and() -> Node | None:
        nodes: list[Node] = []
        last_vanished = False  # previous word analyzed to nothing (stopword)
        while peek() not in (None, ")", "OR"):
            if peek() == "AND":
                take()
                continue
            nxt = peek()
            if nxt is not None and _NEAR_RE.match(nxt):
                # `a <N> b`: combine the previous term with the next one
                m = _NEAR_RE.match(take())
                window = int(m.group(1)) if m.group(1) else 1
                if window < 1:
                    raise BoolQueryError("proximity window must be ≥ 1")
                if not nodes or last_vanished:
                    # a stopword immediately before <N> must NOT silently
                    # rebind the operator to an earlier term
                    raise BoolQueryError(
                        "<N> operator needs a left operand (the preceding "
                        "word analyzed to nothing)"
                        if last_vanished
                        else "<N> operator needs a left operand"
                    )
                left = nodes.pop()
                right = parse_unary()
                if right is None or right[0] != "term" or left[0] not in (
                    "term", "within"
                ):
                    raise BoolQueryError(
                        "proximity operands must be single analyzed terms "
                        "(no phrases, prefixes, groups, or stopwords)"
                    )
                if left[0] == "within":
                    # chain: `a <N1> b <N2> c` extends the n-ary node —
                    # tsquery's chained distance operators
                    nodes.append(
                        ("within", (*left[1], right[1]), (*left[2], window))
                    )
                else:
                    nodes.append(
                        ("within", (left[1], right[1]), (window,))
                    )
                last_vanished = False
                continue
            n = parse_unary()
            if n is not None:
                nodes.append(n)
                last_vanished = False
            else:
                last_vanished = True
        if not nodes:
            return None
        return nodes[0] if len(nodes) == 1 else ("and", tuple(nodes))

    def parse_unary() -> Node | None:
        t = peek()
        if t == "NOT":
            take()
            child = parse_unary()
            if child is None:
                return None  # NOT <stopword> — nothing to exclude
            return ("not", child)
        if t == "(":
            take()
            inner = parse_or()
            if peek() != ")":
                raise BoolQueryError("unbalanced parenthesis")
            take()
            return inner
        if t in (")", "OR", "AND", None):
            raise BoolQueryError(f"unexpected token {t!r}")
        if t.startswith('"'):
            inner = take()[1:-1]
            ph = phrase_tokens(inner)
            if not ph:
                return None
            if len(ph) == 1:
                return ("term", ph[0])
            return ("phrase", tuple(ph))
        word = take()
        wl = word.lower()
        if (
            word.endswith("*")
            and len(word) > 1
            and not any(c in "*?" for c in wl[:-1])
        ):
            # prefix text is the raw lowercased string (expand_prefix
            # semantics — expansion happens against the vocabulary, the
            # analyzer is not applied to an incomplete word)
            return ("prefix", wl[:-1])
        if "*" in wl or "?" in wl:
            # wildcard pattern (mid/leading `*`, any `?`): an expansion
            # node like prefix — expand_wildcard semantics, analyzer not
            # applied. Runs without wildcard chars inside the same token
            # (`foo*bar.baz` → `foo*bar`, `baz`) conjoin like the
            # multi-term analyze case below.
            from discogsography_spark.analysis import WILD_TOKEN_RE

            runs = WILD_TOKEN_RE.findall(wl)
            if not runs or any(all(c in "*?" for c in r) for r in runs):
                raise BoolQueryError(
                    f"wildcard token {word!r} has no literal characters"
                )
            nodes: list[Node] = []
            for r in sorted(runs):
                if "*" in r or "?" in r:
                    nodes.append(("wild", r))
                else:
                    # a wildcard-free run is an ordinary word: it goes
                    # through the analyzer like the plain-token path
                    # (stemming + stopword removal), not a raw term leaf
                    nodes.extend(("term", t) for t in analyze(r))
            if not nodes:
                return None  # every literal run was a stopword
            return nodes[0] if len(nodes) == 1 else ("and", tuple(nodes))
        terms = analyze(word)
        if not terms:
            return None
        if len(terms) == 1:
            return ("term", terms[0])
        return ("and", tuple(("term", t2) for t2 in sorted(terms)))

    ast = parse_or()
    if peek() is not None:
        raise BoolQueryError(f"unexpected token {peek()!r}")
    if ast is not None and _satisfiable_empty(ast):
        raise BoolQueryError(
            "query is satisfiable by a document containing no query term "
            "(pure negation) — rejected, as in PostgreSQL FTS"
        )
    return ast


def _satisfiable_empty(ast: Node) -> bool:
    """Would a document containing NO query term match?"""
    kind = ast[0]
    if kind in ("term", "phrase", "prefix", "wild", "within"):
        return False
    if kind == "not":
        return not _satisfiable_empty(ast[1])
    if kind == "and":
        return all(_satisfiable_empty(c) for c in ast[1])
    return any(_satisfiable_empty(c) for c in ast[1])


def polarity_terms(ast: Node) -> tuple[list[str], list[str]]:
    """(positive, negative) — distinct terms by occurrence polarity, each
    sorted. Positive terms are the scoring set."""
    pos: set[str] = set()
    neg: set[str] = set()

    def walk(n: Node, negated: bool) -> None:
        kind = n[0]
        if kind == "term":
            (neg if negated else pos).add(n[1])
        elif kind in ("prefix", "wild"):
            pass  # expansion-dependent; callers resolve via expand_patterns
        elif kind in ("phrase", "within"):
            (neg if negated else pos).update(n[1])
        elif kind == "not":
            walk(n[1], not negated)
        else:
            for c in n[1]:
                walk(c, negated)

    walk(ast, False)
    return sorted(pos), sorted(neg)


def all_terms(ast: Node) -> list[str]:
    p, n = polarity_terms(ast)
    return sorted(set(p) | set(n))


def eval_predicate(
    ast: Node,
    has: Callable[[str], bool],
    has_phrase: Callable[[tuple], bool] | None = None,
    has_within: Callable[[tuple, int], bool] | None = None,
) -> bool:
    """Row-at-a-time predicate evaluation (pure-Python oracle path).
    `has_phrase(terms_tuple)` resolves phrase nodes; `has_within(
    terms_tuple, windows_tuple)` resolves proximity(-chain) nodes; each
    required only when the AST contains one."""
    kind = ast[0]
    if kind == "term":
        return has(ast[1])
    if kind == "phrase":
        if has_phrase is None:
            raise BoolQueryError("phrase node needs a has_phrase resolver")
        return has_phrase(ast[1])
    if kind == "within":
        if has_within is None:
            raise BoolQueryError("within node needs a has_within resolver")
        return has_within(ast[1], ast[2])
    if kind in ("prefix", "wild"):
        raise BoolQueryError(
            "prefix/wild node must be expanded before evaluation "
            "(expand_prefix_nodes)"
        )
    if kind == "not":
        return not eval_predicate(ast[1], has, has_phrase, has_within)
    if kind == "and":
        return all(
            eval_predicate(c, has, has_phrase, has_within) for c in ast[1]
        )
    return any(eval_predicate(c, has, has_phrase, has_within) for c in ast[1])


def fold_predicate(
    ast: Node, term_leaf, and_, or_, not_, phrase_leaf=None, within_leaf=None
):
    """Generic predicate fold — builds a Spark Column, a SQL string, or a
    set-algebra value from the same AST with engine-specific combinators.
    `phrase_leaf(terms_tuple)` resolves phrase nodes; `within_leaf(
    (t1, t2), window)` resolves proximity nodes (each required only when
    the AST contains one)."""
    kind = ast[0]
    if kind == "term":
        return term_leaf(ast[1])
    if kind == "phrase":
        if phrase_leaf is None:
            raise BoolQueryError("phrase node needs a phrase_leaf resolver")
        return phrase_leaf(ast[1])
    if kind == "within":
        if within_leaf is None:
            raise BoolQueryError("within node needs a within_leaf resolver")
        return within_leaf(ast[1], ast[2])
    if kind in ("prefix", "wild"):
        raise BoolQueryError(
            "prefix/wild node must be expanded before folding "
            "(expand_prefix_nodes)"
        )
    if kind == "not":
        return not_(
            fold_predicate(
                ast[1], term_leaf, and_, or_, not_, phrase_leaf, within_leaf
            )
        )
    parts = [
        fold_predicate(c, term_leaf, and_, or_, not_, phrase_leaf, within_leaf)
        for c in ast[1]
    ]
    comb = and_ if kind == "and" else or_
    acc = parts[0]
    for p in parts[1:]:
        acc = comb(acc, p)
    return acc


def has_phrase_nodes(ast: Node) -> bool:
    kind = ast[0]
    if kind in ("term", "prefix", "wild", "within"):
        return False
    if kind == "phrase":
        return True
    if kind == "not":
        return has_phrase_nodes(ast[1])
    return any(has_phrase_nodes(c) for c in ast[1])


def has_within_nodes(ast: Node) -> bool:
    kind = ast[0]
    if kind in ("term", "prefix", "wild", "phrase"):
        return False
    if kind == "within":
        return True
    if kind == "not":
        return has_within_nodes(ast[1])
    return any(has_within_nodes(c) for c in ast[1])


def has_positional_nodes(ast: Node) -> bool:
    """True when evaluation needs token positions (phrase or within nodes) —
    the gate for evaluators that only track per-term presence."""
    return has_phrase_nodes(ast) or has_within_nodes(ast)


def has_prefix_nodes(ast: Node) -> bool:
    """True when the AST has expansion leaves (prefix OR wild nodes) —
    the gate for the expand_prefix_nodes rewrite."""
    kind = ast[0]
    if kind in ("term", "phrase", "within"):
        return False
    if kind in ("prefix", "wild"):
        return True
    if kind == "not":
        return has_prefix_nodes(ast[1])
    return any(has_prefix_nodes(c) for c in ast[1])


def expand_prefix_nodes(ast: Node, expand: Callable[[str], list[str]]) -> Node | None:
    """Replace every ('prefix', p) with the OR of its vocabulary expansions
    (term-ASC, caller-capped — expand_prefix's deterministic rule). An
    empty expansion makes the node unsatisfiable: it vanishes from an OR
    and annihilates its AND group (a conjunct that can never match). The
    rewritten AST contains only term/phrase nodes, so every existing
    evaluator works unchanged. Returns None if the whole query collapses."""
    kind = ast[0]
    if kind in ("term", "phrase", "within"):
        return ast
    if kind in ("prefix", "wild"):
        terms = expand(ast[1])
        if not terms:
            return None  # matches nothing
        if len(terms) == 1:
            return ("term", terms[0])
        return ("or", tuple(("term", t) for t in sorted(terms)))
    if kind == "not":
        child = expand_prefix_nodes(ast[1], expand)
        if child is None:
            # NOT(matches-nothing) = always true → vanishes from AND;
            # signal with a sentinel the callers fold out
            return ("true",)
        if child == ("true",):
            return None
        return ("not", child)
    parts = [expand_prefix_nodes(c, expand) for c in ast[1]]
    if kind == "and":
        if any(p is None for p in parts):
            return None  # an unsatisfiable conjunct kills the group
        parts = [p for p in parts if p != ("true",)]
        if not parts:
            return ("true",)
        return parts[0] if len(parts) == 1 else ("and", tuple(parts))
    # or
    if any(p == ("true",) for p in parts):
        return ("true",)
    parts = [p for p in parts if p is not None]
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else ("or", tuple(parts))


def expand_bool_prefixes(
    ast: Node,
    expand_pattern: Callable[[str, int], list[str]],
    prefix_expansions: dict[str, list[str]] | None = None,
) -> Node | None:
    """Rewrite a parsed query's prefix/wild leaves to ORs of vocabulary
    expansions — the one rewrite every evaluator (single index, live view,
    served matched sets and highlights) applies before evaluation.

    Expansions come from `expand_pattern(p, 64)` over the searcher's own
    vocabulary, or from a caller-supplied `prefix_expansions` map (a
    sharded coordinator injects its ONE global rewrite so every shard
    evaluates the identical expansion). Prefix leaves store the bare
    string and wild leaves the pattern — disjoint key spaces, so one
    resolver serves both. Returns None when the query matches nothing."""
    if not has_prefix_nodes(ast):
        return ast
    if prefix_expansions is not None:
        out = expand_prefix_nodes(ast, lambda p: prefix_expansions.get(p, []))
    else:
        out = expand_prefix_nodes(ast, lambda p: expand_pattern(p, 64))
    if out == ("true",):  # defensive: vacuous forms are parse-rejected
        raise BoolQueryError("prefix expansion produced a match-all query")
    return out


def eval_docsets(ast: Node, docs_of, phrase_docs_of=None, within_docs_of=None):
    """Evaluate the predicate over sorted-unique docID arrays.

    `docs_of(term)` → np.ndarray (sorted, unique; empty for absent terms);
    `phrase_docs_of(terms_tuple)` resolves phrase nodes the same way;
    `within_docs_of(terms_tuple, windows_tuple)` resolves
    proximity(-chain) nodes.
    NOT never materializes a complement: values flow as (array, is_complement)
    and the parser's pure-negation rejection guarantees the root resolves
    positive. Returns the sorted matched docID array."""
    import numpy as np

    def leaf(t):
        return (docs_of(t), False)

    def and_(a, b):
        da, ca = a
        db, cb = b
        if not ca and not cb:
            return (np.intersect1d(da, db, assume_unique=True), False)
        if ca and cb:
            return (np.union1d(da, db), True)
        if ca:  # normalize: positive side first
            da, db = db, da
        return (np.setdiff1d(da, db, assume_unique=True), False)

    def or_(a, b):
        da, ca = a
        db, cb = b
        if not ca and not cb:
            return (np.union1d(da, db), False)
        if ca and cb:
            return (np.intersect1d(da, db, assume_unique=True), True)
        if ca:
            da, db = db, da
        # pos ∨ ¬S  =  ¬(S \ pos)
        return (np.setdiff1d(db, da, assume_unique=True), True)

    def ph_leaf(terms_tuple):
        if phrase_docs_of is None:
            raise BoolQueryError("phrase node needs a phrase_docs_of resolver")
        return (phrase_docs_of(terms_tuple), False)

    def wi_leaf(terms, windows):
        if within_docs_of is None:
            raise BoolQueryError("within node needs a within_docs_of resolver")
        return (within_docs_of(terms, windows), False)

    cand, comp = fold_predicate(
        ast, leaf, and_, or_, lambda a: (a[0], not a[1]), ph_leaf, wi_leaf
    )
    if comp:  # unreachable: parser rejects pure-negation queries
        raise AssertionError("boolean root resolved to a complement set")
    return cand


def simplify_absent(ast: Node, present: Callable[[str], bool]) -> Node | None:
    """Algebraically simplify the AST against VOCABULARY knowledge: a term
    (or phrase/within operand) absent from the corpus matches nothing, so
    its leaf is the empty set — `NOT absent` is always-true, an empty
    conjunct annihilates its AND group, empty arms vanish from ORs.
    Returns None when the whole query is unsatisfiable.

    This turns e.g. `spark AND NOT zzz` (zzz absent) into the plain term
    `spark`, which then takes the delegated single-term champion fast path
    instead of scoring the full posting list. Purely an evaluation-plan
    rewrite: the matched set and scores are unchanged (absent terms never
    match or score). An always-true node can never reach an OR arm or the
    root — the parser's pure-negation rejection already refused every query
    satisfiable by a document with no query term."""
    kind = ast[0]
    if kind == "term":
        return ast if present(ast[1]) else None
    if kind in ("phrase", "within"):
        # drop only when EVERY operand is absent: a phrase with a present
        # term can't match either, but its PRESENT terms still belong to
        # the positive-polarity scoring set (the boolquery scoring
        # contract), so the node must survive for score parity
        return ast if any(present(t) for t in ast[1]) else None
    if kind in ("prefix", "wild"):
        return ast  # resolved by expand_prefix_nodes, not vocabulary lookup
    if kind == "not":
        c = simplify_absent(ast[1], present)
        if c is None:
            return ("true",)
        if c == ("true",):
            return None
        return ("not", c)
    parts = [simplify_absent(c, present) for c in ast[1]]
    if kind == "and":
        if any(p is None for p in parts):
            return None
        parts = [p for p in parts if p != ("true",)]
        if not parts:
            return ("true",)
        return parts[0] if len(parts) == 1 else ("and", tuple(parts))
    kept = [p for p in parts if p is not None]
    if any(p == ("true",) for p in kept):  # unreachable (parser rejection)
        return ("true",)
    if not kept:
        return None
    return kept[0] if len(kept) == 1 else ("or", tuple(kept))


def simplify_for_eval(ast: Node, present: Callable[[str], bool]) -> Node | None:
    """simplify_absent guarded by the SCORING contract: positive-polarity
    terms present in the index score on matching docs even when their
    containing branch can never match (`(t2 AND absent) OR t4` scores t2 on
    t4-docs that contain it — the same rule every evaluator and oracle
    applies). So the simplified AST is only usable when it retains every
    present positive term of the original; otherwise evaluate the original.
    The common degenerate shapes (`x AND NOT absent`, `x OR absent`) always
    pass the guard — only a PRESENT term trapped in a dead branch falls
    back. Found by the randomized property suite."""
    simp = simplify_absent(ast, present)
    if simp is None or simp == ("true",):
        return simp
    keep = {t for t in polarity_terms(ast)[0] if present(t)}
    if keep <= set(polarity_terms(simp)[0]):
        return simp
    return ast


def rewrite_fuzzy_terms(
    ast: Node,
    known: Callable[[str], bool],
    suggest: Callable[[str], str | None],
) -> tuple[Node, dict[str, str]]:
    """Did-you-mean inside a boolean query: every PLAIN term leaf absent
    from the vocabulary (`known(t)` false) is rewritten to its best
    suggestion (None = keep as-is; an AND over it then correctly empties).
    Terms inside phrase/within nodes are left alone — a quoted phrase is an
    exact-match request (Lucene keeps fuzzy and phrase queries separate the
    same way). Returns (rewritten AST, {original: suggestion})."""
    rewrites: dict[str, str] = {}
    tried: dict[str, str | None] = {}  # memoizes FAILED suggestions too —
    # a repeated hopeless term must not re-run the trigram vocabulary scan

    def walk(n: Node) -> Node:
        kind = n[0]
        if kind == "term":
            t = n[1]
            if known(t):
                return n
            if t not in tried:
                tried[t] = suggest(t)
                if tried[t] is not None:
                    rewrites[t] = tried[t]
            s = tried[t]
            if s is None:
                return n
            return ("term", s)
        if kind in ("phrase", "prefix", "wild", "within"):
            return n
        if kind == "not":
            return ("not", walk(n[1]))
        return (kind, tuple(walk(c) for c in n[1]))

    return walk(ast), rewrites
