"""Query layers both workloads report: the term lookup, postings decode
and evaluation under AND top-k, the opening of the searcher the queries
run on, and the process's memory. `serve` runs its AND queries on a
LocalSearcher, `ingest` on the merged view, which looks terms up in the
base's and every delta's LocalSearcher."""

from __future__ import annotations

import statistics


def instrument_decode(tracer) -> None:
    """Spans around every TermPostings.decode_all."""
    from discogsography_spark.query.engine import TermPostings

    tracer.instrument(
        TermPostings, "decode_all", "codec.decode_all",
        counter=lambda r: {"codec.postings_decoded": r[0].size},
    )


def instrument_lookup(tracer, searcher) -> None:
    """Spans around `lookup_terms` of `searcher`: a LocalSearcher, or the
    class itself."""
    tracer.instrument(
        searcher, "lookup_terms", "query.engine.lookup",
        counter=lambda r: {"query.engine.lookup_df": sum(tp.df for tp in r.values())},
    )


def layers(tracer, since: int, and_df: float, and_hits: int, rss_mb: float) -> dict:
    """From the spans since `since`: AND queries in spans `query.and`,
    searcher opens in spans `query.open`. `and_df` is the summed df of the
    terms those queries looked up, `and_hits` their summed result length."""
    med = statistics.median
    lookups = tracer.child_totals("query.and", "query.engine.lookup", since)
    ands = tracer.durations("query.and", since)
    decoded = tracer.counter("codec.postings_decoded", since)
    dec_s = tracer.total("codec.decode_all", since)
    return {
        "query.engine.lookup_ms": (med(lookups) * 1000.0, "ms"),
        "query.engine.evaluate_ms": (med([a - l for a, l in zip(ands, lookups)]) * 1000.0, "ms"),
        "query.engine.df_per_result": (and_df / max(1, and_hits), "postings"),
        "codec.decode_postings_per_s": (decoded / dec_s if dec_s else 0.0, "1/s"),
        "codec.postings_decoded": (decoded, "count"),
        "query.open_ms": (tracer.median_ms("query.open", since), "ms"),
        "process.rss_mb": (rss_mb, "MB"),
    }
