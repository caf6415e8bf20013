"""Shows that every output check fails on a corrupted result.

    python3 perfbench/selftest.py

Builds the reference model over a small seeded corpus, checks that correct
results pass, then feeds each check a corrupted copy (a swapped rank, a
perturbed score, a dropped posting, a wrong facet count, a phrase-less hit,
a tombstoned doc, a wrong or missing highlight, a wrong document count, a
differing build) and exits
non-zero unless every corruption is caught. Needs no Spark and no program
code.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from perfbench import corpus, reference as R  # noqa: E402


def main() -> int:
    pdf = corpus.make_turns(3000, 5)
    toks = [R.tokenize(t) for t in pdf["text"]]
    model = R.Model()
    model.add(R.dense_rank(pdf["conv_id"].tolist(), pdf["turn_idx"].to_numpy()), toks)
    rng = np.random.default_rng(5)
    q = next(
        q for q, _ in corpus.term_queries(rng, corpus.Vocabulary(toks), 500)
        if model.topk(q, 10)[1] > 10 and len({s for _, s in model.topk(q, 10)[0]}) > 2
    )
    good, n = model.topk(q, 10)
    phrase = corpus.phrase_queries(rng, toks, 1)[0][0]
    ph_good = sorted(((d, 1.0) for d in model.phrase_docs(phrase)), key=lambda x: x[0])[:10]
    facets = {"role": [("assistant", n - 3), ("user", 3)]}
    postings = sum(len(set(t)) for t in toks)

    cases = {
        "topk": lambda r: R.check_topk(r, good, n, 10, "topk"),
        "sharded": lambda r: R.check_same_ranking(r, good, "sharded"),
    }
    corrupt = {
        "swapped rank": [good[1], good[0]] + good[2:],
        "perturbed score": [(good[0][0], good[0][1] * (1 + 1e-6))] + good[1:],
        "dropped posting": good[:-1],
        "replaced doc": good[:-1] + [(max(model.alive) + 1, good[-1][1])],
    }
    failures = []

    def expect(ok: bool, fn, arg, label: str) -> None:
        try:
            fn(arg)
            passed = True
        except R.CheckFailed:
            passed = False
        if passed != ok:
            failures.append(label)
        print(f"{'ok ' if passed == ok else 'BAD'} {label}: check {'passed' if passed else 'failed'}")

    for name, fn in cases.items():
        expect(True, fn, good, f"{name} on the correct result")
        for what, bad in corrupt.items():
            expect(False, fn, bad, f"{name} on a {what}")
    expect(True, lambda f: R.check_facets(f, n, n, "facets"), facets, "facets, correct")
    expect(False, lambda f: R.check_facets(f, n, n, "facets"),
           {"role": [("assistant", n - 3), ("user", 2)]}, "facets summing short")
    expect(False, lambda t: R.check_facets(facets, t, n, "facets"), n - 1, "total_matched off by one")
    expect(True, lambda r: R.check_phrase(r, model, phrase, 10, "phrase"), ph_good, "phrase, correct")
    lacking = next(d for d in sorted(model.alive) if d not in model.phrase_docs(phrase))
    expect(False, lambda r: R.check_phrase(r, model, phrase, 10, "phrase"),
           ph_good[:-1] + [(lacking, 1.0)] if ph_good else [(lacking, 1.0)], "phrase hit without the phrase")
    text = "T12 and t3, T12!"

    def headline(query):
        return lambda h: R.check_headline(h, text, query, "headline")

    expect(True, headline("t3"), "T12 and <<t3>>, T12!", "headline, correct")
    expect(True, headline("t12"), text, "headline of an upper-case-only hit")
    expect(False, headline("t3"), text, "headline missing its mark")
    expect(False, headline("t12"), "<<T12>> and t3, T12!", "headline with a case-blind mark")
    expect(True, lambda r: R.check_alive(r, set(), "alive"), good, "no tombstones")
    expect(False, lambda r: R.check_alive(r, {good[3][0]}, "alive"), good, "tombstoned doc returned")
    expect(True, lambda m: R.check_n_docs(m, model, "n_docs"), model.n_docs, "n_docs, correct")
    expect(False, lambda m: R.check_n_docs(m, model, "n_docs"), model.n_docs + 1, "n_docs off by one")
    expect(True, lambda p: R.check_postings(p, toks), postings, "postings, correct")
    expect(False, lambda p: R.check_postings(p, toks), postings - 1, "a dropped posting in the manifest")
    expect(True, R.check_identical, ["a1", "a1"], "identical builds")
    expect(False, R.check_identical, ["a1", "a2"], "differing builds")
    print("FAILED: " + ", ".join(failures) if failures else "all corruptions caught")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
