"""The reference query set (FIXTURES.md §3) — fixed, deterministic.

BM25 top-k results for these queries are the rank-identity correctness gate
(BASELINE.json north_rule: "matching the reference's top-k docIDs and BM25
scores (rank-identical) on the reference query set").  Terms are drawn from
the synthetic corpus vocabulary; mix per FIXTURES.md §3: single-term,
two-term, stopword-heavy three-term, and no-hit queries, plus k=1 / k=100
edge cases.
"""

from __future__ import annotations

from .functions.textanalysis import tokenize

# (query_id, text, k)
QUERIES: list[tuple[int, str, int]] = [
    (0, "spark sql join", 10),          # flagship (SURVEY.md §2D.1)
    (1, "spark", 10),
    (2, "join", 10),
    (3, "hash merge", 10),
    (4, "window agg", 10),
    (5, "the fast join", 10),           # stopword-heavy → exercises salting
    (6, "the a of", 10),                # all stopwords
    (7, "customer order line", 10),
    (8, "vector", 10),
    (9, "zzzunknown qqqmissing", 10),   # no-hit
    (10, "sort", 1),                    # k=1 edge
    (11, "filter scan", 100),           # k=100 edge
    (12, "big data stream", 10),
    (13, "query table index", 10),
    (14, "slow small batch", 10),
]


def query_terms(text: str, analyzer: dict | None = None) -> list[str]:
    """Tokenize a query and de-duplicate terms preserving first-seen order.

    BM25 here treats the query as a term *set* (repeated query terms score
    once) — both the engine and every oracle share this rule.  Pass the
    index's persisted ``analyzer`` (A8) so query analysis matches indexing
    (e.g. stopwords configured away at build time never reach the scorer).
    """
    if analyzer:
        from .functions.textanalysis import py_tokenize

        toks = py_tokenize(text, analyzer)
    else:
        toks = tokenize(text)
    seen: dict[str, None] = {}
    for t in toks:
        seen.setdefault(t, None)
    return list(seen)


def query_term_rows() -> list[tuple[int, str, int]]:
    """Flattened (query_id, term, k) rows — broadcast side of the score join."""
    out = []
    for qid, text, k in QUERIES:
        for t in query_terms(text):
            out.append((qid, t, k))
    return out
