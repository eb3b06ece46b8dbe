"""ES span queries over the positional postings index.

The kohesive reference delegates span queries (span_near / span_first /
span_or) to Elasticsearch itself; this module is the engine-native
equivalent over our own positional index, reusing the candidate-span
accumulation machinery proven in ``textsearch.phrase_search_slop``.

Semantics (exact, oracle-checkable; positions are 1-based token indices
as stored by the index builder):

* ``span_near(in_order=True)``  — a *match* is a start position p1 of the
  first clause for which in-order positions p1 < p2 < ... < pn of the
  remaining clauses exist with pn - p1 <= (n-1) + slop.  This is the
  interval-ordered reading of Lucene's SpanNearQuery over single-term
  clauses; n_matches counts distinct starts.
* ``span_near(in_order=False)`` — a *match* is a window [mn, mx] with one
  occurrence of EVERY clause inside and mx - mn <= (n-1) + slop, clause
  order free; n_matches counts distinct window minima mn.  Clauses must
  be distinct terms (a position carries one term, so tuple distinctness
  is structural).
* ``span_first(term, end)`` — Lucene SpanFirstQuery: occurrences among
  the FIRST ``end`` tokens of the document; n_matches counts them.  (The
  index stores 0-based positions from posexplode; the definition is
  stated base-independently so a 1-based SQL replay uses pos <= end.)

Scale shape: identical to the phrase family — bucket-pruned positions
scan for ONLY the clause terms, iterative doc-keyed equi-joins whose
candidate set shrinks monotonically, per-doc array HOFs (JVM codegen, no
Python), greedy dominance keeping one representative span per start so
the accumulator is bounded by |starts| (no combinatorial growth on
repetitive documents), tombstone anti-join last.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _clause_positions(reader, words, analyzer):
    from ..functions.hashing import xxhash64_str

    pos = reader.positions_for_terms(words)
    return {w: pos.filter(F.col("term_id") == xxhash64_str(w))
            for w in set(words)}


def _finish(reader, acc, count_expr) -> DataFrame:
    return reader.live(
        acc.select("doc_id", count_expr.cast("long").alias("n_matches")))


def span_near(spark, reader, terms: list[str], slop: int = 0,
              in_order: bool = True,
              analyzer: dict | None = None) -> DataFrame:
    """(doc_id, n_matches) for ACTIVE docs where ``terms`` co-occur within
    a window of (n-1) + ``slop`` positions, ordered or unordered."""
    from ..functions.textanalysis import py_tokenize

    an = analyzer if analyzer is not None else (reader.state.analyzer or None)
    words = [t for w in terms for t in py_tokenize(w, an)]
    if not words:
        raise ValueError("span_near needs at least one analyzable term")
    if len(words) == 1:
        parts = _clause_positions(reader, words, an)
        return _finish(reader, parts[words[0]], F.size("positions"))
    if not in_order and len(set(words)) != len(words):
        raise ValueError("unordered span_near requires distinct terms")
    maxspan = len(words) - 1 + slop
    parts = _clause_positions(reader, words, an)

    if in_order:
        # identical accumulation to phrase_search_slop: (start, last) spans,
        # greedy min(last) per start is lossless for the exists-count
        acc = parts[words[0]].select(
            "doc_id",
            F.expr("transform(positions, p -> struct(p AS start, p AS last))")
            .alias("acc"))
        for w in words[1:]:
            nxt = parts[w].select("doc_id", F.col("positions").alias("nx"))
            step = (
                f"flatten(transform(acc, a -> transform("
                f"filter(nx, q -> q > a.last AND q - a.start <= {maxspan}), "
                f"q -> struct(a.start AS start, q AS last))))")
            dedup = (
                "transform(array_distinct(transform(pairs, p -> p.start)), "
                "s -> struct(s AS start, "
                "array_min(transform(filter(pairs, p -> p.start = s), "
                "p -> p.last)) AS last))")
            acc = (acc.join(nxt, "doc_id")
                   .select("doc_id", F.expr(step).alias("pairs"))
                   .filter(F.size("pairs") > 0)
                   .select("doc_id", F.expr(dedup).alias("acc")))
        return _finish(reader, acc, F.size("acc"))

    # unordered: accumulate (mn, mx) candidate windows; adding clause
    # position q widens to (least(mn,q), greatest(mx,q)).  Dominance: per
    # mn keep the minimal mx — a tighter window admits a superset of
    # future extensions under mx - mn <= maxspan, so the greedy
    # representative is again lossless for the exists-quantified count.
    acc = parts[words[0]].select(
        "doc_id",
        F.expr("transform(positions, p -> struct(p AS mn, p AS mx))")
        .alias("acc"))
    for w in words[1:]:
        nxt = parts[w].select("doc_id", F.col("positions").alias("nx"))
        step = (
            f"flatten(transform(acc, a -> transform("
            f"filter(nx, q -> greatest(a.mx, q) - least(a.mn, q)"
            f" <= {maxspan}), "
            f"q -> struct(least(a.mn, q) AS mn, "
            f"greatest(a.mx, q) AS mx))))")
        dedup = (
            "transform(array_distinct(transform(pairs, p -> p.mn)), "
            "s -> struct(s AS mn, "
            "array_min(transform(filter(pairs, p -> p.mn = s), "
            "p -> p.mx)) AS mx))")
        acc = (acc.join(nxt, "doc_id")
               .select("doc_id", F.expr(step).alias("pairs"))
               .filter(F.size("pairs") > 0)
               .select("doc_id", F.expr(dedup).alias("acc")))
    return _finish(reader, acc, F.size("acc"))


def span_first(spark, reader, term: str, end: int,
               analyzer: dict | None = None) -> DataFrame:
    """(doc_id, n_matches): occurrences of ``term`` among the document's
    first ``end`` tokens (0-based stored positions 0 .. end-1)."""
    from ..functions.textanalysis import py_tokenize

    an = analyzer if analyzer is not None else (reader.state.analyzer or None)
    words = py_tokenize(term, an)
    if len(words) != 1:
        raise ValueError(f"span_first wants a single term, got {words!r}")
    parts = _clause_positions(reader, words, an)
    acc = parts[words[0]].select(
        "doc_id", F.expr(f"filter(positions, p -> p < {int(end)})").alias("hit")
    ).filter(F.size("hit") > 0)
    return _finish(reader, acc, F.size("hit"))


def span_or(spark, reader, terms: list[str],
            analyzer: dict | None = None) -> DataFrame:
    """(doc_id, n_matches): union of single-term spans — total occurrences
    of ANY of ``terms`` per active doc (SpanOrQuery over term clauses)."""
    from ..functions.textanalysis import py_tokenize

    an = analyzer if analyzer is not None else (reader.state.analyzer or None)
    words = sorted({t for w in terms for t in py_tokenize(w, an)})
    if not words:
        raise ValueError("span_or needs at least one analyzable term")
    parts = _clause_positions(reader, words, an)
    u = None
    for w in words:
        nxt = parts[w].select("doc_id", F.size("positions").alias("n"))
        u = nxt if u is None else u.unionByName(nxt)
    acc = u.groupBy("doc_id").agg(F.sum("n").alias("n"))
    return _finish(reader, acc, F.col("n"))
