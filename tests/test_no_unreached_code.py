"""Every top-level function and class of the package and of
``__spark_entry__.py`` is reached from code outside the tests, or is listed
in ``KEPT`` with the reason it stays.

"Reached" is a name match over the syntax tree, not a text grep: a name
that only appears inside a string (an error message, a docstring) does not
count.  A definition counts as reached when its name is used (``Name``,
``Attribute`` or an import alias) in some non-test ``.py`` file outside its
own body, or when it is an entry ``q_<n>`` whose ``"<n>"`` is a string
constant in ``bench.py`` (bench resolves those by ``getattr``).
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "elasticsearch_data_import_handler_spark"
ENTRY = "__spark_entry__.py"
SKIP_DIRS = {"tests", "__pycache__", "spark-warehouse"}

# Public functions no request path, tool or benchmark calls, kept for a
# capability SURVEY.md names or as a reference the tests compare against.
KEPT = {
    "bpe_encode": "SURVEY row 36 op='bpe': the subword stream whose counts "
                  "bpe_token_counts packs",
    "asciifold_sql": "test reference: the portable-SQL mirror of the "
                     "asciifolding char filter",
    "analyze": "SURVEY round 4: the ES _analyze API",
    "term_vectors": "SURVEY round 5 document read APIs: _termvectors",
    "mget": "SURVEY round 5 document read APIs: _mget",
    "explain_score": "SURVEY round 5 document read APIs: _explain",
    "msearch": "SURVEY round 5 document read APIs: _msearch",
    "fuzzy_terms": "test reference: classic Levenshtein expansion the OSA "
                   "test compares fuzzy_terms_osa against",
    "phrase_suggest": "SURVEY round 5: the ES phrase suggester",
    "match_bool_prefix": "ES match_bool_prefix; not in SURVEY's map",
    "fuzzy_terms_osa": "SURVEY round 5: ES fuzzy with transpositions",
    "rollover": "SURVEY round 4: the ES _rollover API",
    "search_alias": "SURVEY round 4: ES index aliases",
    "build_incremental": "paper: incremental build over ordered batches",
    "reindex": "SURVEY round 5: the ES _reindex API",
    "snapshot_index": "SURVEY round 4: the ES _snapshot API",
    "list_snapshots": "SURVEY round 4: the ES _snapshot API",
    "restore_index": "SURVEY round 4: the ES _snapshot API",
    "read_lineage": "paper: per-partition lineage of the resumable build",
    "synth_pages": "test reference: the deterministic synthetic crawl "
                   "corpus",
    "stream_index_pages": "paper: streaming ingest through commit_batch",
    "percolate_stream": "SURVEY round 4: streaming percolation",
    "dedup_stream": "SURVEY round 5: watermarked ingest dedup",
    "trending_terms": "SURVEY streaming: watermarked windowed term counts",
    "top_terms_batch": "SURVEY streaming: the batch side of trending_terms",
}


def _sources() -> list[str]:
    out = []
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = sorted(x for x in dirs
                         if not x.startswith(".") and x not in SKIP_DIRS)
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _unreached() -> dict[str, str]:
    """name → 'file:line' of every top-level definition nothing reaches."""
    trees = {}
    for p in _sources():
        with open(p) as f:
            trees[os.path.relpath(p, ROOT)] = ast.parse(f.read(), p)
    used = {rel: _names(t) for rel, t in trees.items()}
    bench = {n.value for n in ast.walk(trees["bench.py"])
             if isinstance(n, ast.Constant) and isinstance(n.value, str)}
    out = {}
    for rel, tree in trees.items():
        if not (rel.startswith(PKG + os.sep) or rel == ENTRY):
            continue
        tops = [_names(n) for n in tree.body]
        for i, d in enumerate(tree.body):
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                continue
            if any(d.name in s for j, s in enumerate(tops) if j != i) or any(
                    d.name in u for r, u in used.items() if r != rel):
                continue
            if rel == ENTRY and d.name.startswith("q_") and d.name[2:] in bench:
                continue
            out[d.name] = f"{rel}:{d.lineno}"
    return out


def test_every_definition_is_reached_or_kept():
    unreached = _unreached()
    extra = {n: where for n, where in unreached.items() if n not in KEPT}
    assert not extra, (
        "no request path, tool or benchmark reaches these; delete them, or "
        f"list them in KEPT with a reason: {extra}")
    stale = sorted(set(KEPT) - set(unreached))
    assert not stale, f"KEPT names that are reached or gone: {stale}"
