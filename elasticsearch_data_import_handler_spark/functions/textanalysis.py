"""Canonical text analysis: HTML text extraction + tokenization.

These two functions define the engine's analysis chain and are the single
source of truth shared by (a) the executor-side vectorized UDFs, (b) the
pure-Python test oracle (tests/oracle re-exports them), and (c) the synthetic
corpus generator (FIXTURES.md §2 requires ``text == extract_text(html)``
byte-identically per url — the BASELINE.json input_hint invariant).

Tokenization is also expressible as a pure-JVM Catalyst expression
(``F.regexp_extract_all(F.lower(text), '[a-z0-9]+', 0)``); the engine uses
the JVM form in the hot path (whole-stage codegen, no Python boundary) and
this Python form in oracles.  ``tests/test_textanalysis.py`` asserts the two
produce identical token arrays.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

TOKEN_RE = re.compile(r"[a-z0-9]+")
# JVM-side equivalent used by the Spark hot path (kept adjacent so the two
# stay in lock-step; parity is test-enforced).
TOKEN_RE_JVM = "[a-z0-9]+"

# A8 settings surface: the per-index analysis chain the reference configured
# via newIndexSettingsFile (analyzer/tokenizer JSON).  Persisted in the
# index state on the first commit; every later batch and every query-side
# tokenization reuses it.  Filter order is FIXED (ES chains are configurable;
# this engine pins the common one): token_pattern → lowercase → stopwords →
# synonyms → stemmer.  Synonyms and stemming are 1:1 token maps, so
# positional postings keep true distances (like stopword gaps).
DEFAULT_ANALYZER = {
    "token_pattern": TOKEN_RE_JVM,
    "lowercase": True,
    "stopwords": [],
    # ES synonym filter rules in CONTRACTION form: "a, b => c" maps a and b
    # to c; "a, b, c" is an equivalence class normalized to its first term.
    # Applied identically at index and query time (equivalent recall to
    # ES's expansion mode without multi-token positions).
    "synonyms": [],
    # None | "light_english" | "porter".  light_english is a two-phase
    # single-suffix stemmer built ONLY from LIKE/substr/length/|| — the same
    # SQL template runs verbatim in Spark SQL and DuckDB, so the oracle gate
    # replays the exact index-time transform (LIGHT_STEM_P1_SQL/P2_SQL).
    # porter is the full Porter (1980) algorithm via an Arrow-vectorized
    # pandas UDF (algorithmic token filters are ES's Java-filter analog;
    # the one deliberate departure from the all-JVM hot path).
    "stemmer": None,
    # ES asciifolding, positioned as a CHAR filter (before tokenization):
    # with the default [a-z0-9]+ token pattern an unfolded "café" would
    # shed its accented chars entirely, so folding must run on the text.
    # 1:1 accents via translate() (offset-preserving); the three classic
    # expansions (æ→ae, œ→oe, ß→ss) via replace().  The same
    # translate/replace SQL template runs verbatim in Spark SQL and
    # DuckDB (asciifold_sql), so oracles replay it exactly.
    "asciifolding": False,
}

# 1:1 fold map — lowercase and uppercase forms (case preserved like ES's
# asciifolding; the lowercase stage then lowers if enabled)
_FOLD_PAIRS = [
    ("àáâãäåāăą", "a"), ("çćč", "c"), ("èéêëēėę", "e"), ("ìíîïīį", "i"),
    ("ñń", "n"), ("òóôõöøō", "o"), ("ùúûüū", "u"), ("ýÿ", "y"),
    ("žźż", "z"), ("šś", "s"), ("ł", "l"), ("đ", "d"), ("ť", "t"),
    ("ř", "r"), ("ğ", "g"),
]
ASCIIFOLD_SRC = "".join(
    src + src.upper() for src, _ in _FOLD_PAIRS)
ASCIIFOLD_DST = "".join(
    dst * len(src) + dst.upper() * len(src) for src, dst in _FOLD_PAIRS)
ASCIIFOLD_EXPAND = [("æ", "ae"), ("Æ", "AE"), ("œ", "oe"), ("Œ", "OE"),
                    ("ß", "ss")]
_FOLD_TABLE = str.maketrans(ASCIIFOLD_SRC, ASCIIFOLD_DST)


def asciifold(text: str) -> str:
    """Pure-Python mirror of the fold (oracle/test parity)."""
    out = text.translate(_FOLD_TABLE)
    for s, d in ASCIIFOLD_EXPAND:
        out = out.replace(s, d)
    return out


def asciifold_sql(t: str = "t") -> str:
    """The fold as portable SQL — translate + replace chain, identical
    semantics in Spark SQL and DuckDB."""
    expr = f"translate({t}, '{ASCIIFOLD_SRC}', '{ASCIIFOLD_DST}')"
    for s, d in ASCIIFOLD_EXPAND:
        expr = f"replace({expr}, '{s}', '{d}')"
    return expr


def _asciifold_col(c):
    """Column mirror of asciifold_sql (parity test-enforced)."""
    from pyspark.sql import functions as F

    out = F.translate(c, ASCIIFOLD_SRC, ASCIIFOLD_DST)
    for s, d in ASCIIFOLD_EXPAND:
        out = F.replace(out, F.lit(s), F.lit(d))
    return out


def resolve_analyzer(analyzer: dict | None) -> dict:
    a = {**DEFAULT_ANALYZER, **(analyzer or {})}
    unknown = set(a) - set(DEFAULT_ANALYZER)
    if unknown:
        raise ValueError(f"unknown analyzer settings: {sorted(unknown)}")
    if a["stemmer"] not in (None, "light_english", "porter"):
        raise ValueError(f"unknown stemmer: {a['stemmer']!r}")
    return a


# ---------------------------------------------------------------- synonyms

def parse_synonyms(rules: list[str]) -> dict[str, str]:
    """ES synonym rule strings → token normalization map.

    "a, b => c"  explicit contraction: a→c, b→c (c itself passes through);
    "a, b, c"    equivalence class: every member → the first term a.
    Multi-word phrases are rejected — the 1:1 map is what keeps tf arrays
    and positions exact."""
    mapping: dict[str, str] = {}
    for rule in rules or []:
        if "=>" in rule:
            lhs, rhs = rule.split("=>", 1)
            targets = [t.strip() for t in rhs.split(",") if t.strip()]
            if len(targets) != 1:
                raise ValueError(f"synonym rule needs ONE target: {rule!r}")
            target = targets[0]
            sources = [s.strip() for s in lhs.split(",") if s.strip()]
        else:
            cls = [s.strip() for s in rule.split(",") if s.strip()]
            if len(cls) < 2:
                raise ValueError(f"synonym class needs >= 2 terms: {rule!r}")
            target, sources = cls[0], cls[1:]
        for w in sources + [target]:
            if not w or " " in w:
                raise ValueError(f"multi-word synonyms unsupported: {rule!r}")
        for s in sources:
            if mapping.get(s, target) != target:
                raise ValueError(f"conflicting synonym target for {s!r}")
            mapping[s] = target
    return mapping


def synonym_case_sql(mapping: dict[str, str], t: str = "t") -> str:
    """The synonym map as a CASE expression — valid verbatim in Spark SQL
    and DuckDB (oracle replay)."""
    by_target: dict[str, list[str]] = {}
    for s, tgt in sorted(mapping.items()):
        by_target.setdefault(tgt, []).append(s)
    whens = " ".join(
        "WHEN {t} IN ({srcs}) THEN '{tgt}'".format(
            t=t, srcs=", ".join(f"'{s}'" for s in srcs), tgt=tgt)
        for tgt, srcs in sorted(by_target.items()))
    return f"CASE {whens} ELSE {t} END"


# ------------------------------------------------------- light_english stem

def _vowel_sql(stem_expr: str) -> str:
    return "(" + " OR ".join(f"{stem_expr} LIKE '%{v}%'" for v in "aeiou") + ")"


def _cut_sql(t: str, n: int) -> str:
    return f"substr({t}, 1, length({t}) - {n})"


def light_stem_p1_sql(t: str = "t") -> str:
    """Phase 1 (plural strip) of light_english as portable SQL — only
    LIKE / substr / length / || / CASE, identical semantics in Spark SQL
    and DuckDB.  First match wins."""
    return (
        f"CASE WHEN length({t}) >= 5 AND {t} LIKE '%sses' THEN {_cut_sql(t, 2)} "
        f"WHEN length({t}) >= 5 AND {t} LIKE '%ies' THEN {_cut_sql(t, 3)} || 'y' "
        f"WHEN {t} LIKE '%ss' OR {t} LIKE '%us' OR {t} LIKE '%is' THEN {t} "
        f"WHEN length({t}) >= 4 AND {t} LIKE '%s' THEN {_cut_sql(t, 1)} "
        f"ELSE {t} END"
    )


def light_stem_p2_sql(t: str = "t") -> str:
    """Phase 2 (suffix strip) of light_english, applied to phase-1 output."""
    return (
        f"CASE WHEN length({t}) >= 6 AND {t} LIKE '%ing' "
        f"AND {_vowel_sql(_cut_sql(t, 3))} THEN {_cut_sql(t, 3)} "
        f"WHEN length({t}) >= 5 AND {t} LIKE '%ed' "
        f"AND {_vowel_sql(_cut_sql(t, 2))} THEN {_cut_sql(t, 2)} "
        f"WHEN length({t}) >= 5 AND {t} LIKE '%ly' THEN {_cut_sql(t, 2)} "
        f"WHEN length({t}) >= 5 AND {t} LIKE '%e' THEN {_cut_sql(t, 1)} "
        f"ELSE {t} END"
    )


def _has_vowel(s: str) -> bool:
    return any(v in s for v in "aeiou")


def light_stem(t: str) -> str:
    """Pure-Python mirror of light_stem_p1_sql ∘ light_stem_p2_sql (parity
    test-enforced across Python / Spark SQL / DuckDB in
    tests/test_textanalysis.py).  Two phases: 'merges' → 'merge' → 'merg'
    meets 'merging'/'merged' → 'merg' — consistent recall without Porter's
    measure machinery."""
    n = len(t)
    if n >= 5 and t.endswith("sses"):
        t = t[:-2]
    elif n >= 5 and t.endswith("ies"):
        t = t[:-3] + "y"
    elif t.endswith(("ss", "us", "is")):
        pass
    elif n >= 4 and t.endswith("s"):
        t = t[:-1]
    n = len(t)
    if n >= 6 and t.endswith("ing") and _has_vowel(t[:-3]):
        return t[:-3]
    if n >= 5 and t.endswith("ed") and _has_vowel(t[:-2]):
        return t[:-2]
    if n >= 5 and t.endswith("ly"):
        return t[:-2]
    if n >= 5 and t.endswith("e"):
        return t[:-1]
    return t


# ------------------------------------------------------------- Porter stem

def _p_is_vowel_at(s: str, i: int) -> bool:
    """Porter's cons(i) negated: a,e,i,o,u are vowels; y is a vowel iff it
    follows a consonant (recursively — 'yy' alternates)."""
    ch = s[i]
    if ch in "aeiou":
        return True
    return ch == "y" and i > 0 and not _p_is_vowel_at(s, i - 1)


def _porter_m(s: str) -> int:
    """Porter's measure: number of VC sequences in the [C](VC)^m[V] form."""
    groups = 0
    prev_v = False
    for i in range(len(s)):
        v = _p_is_vowel_at(s, i)
        if prev_v and not v:
            groups += 1
        prev_v = v
    return groups


def _p_vowel(s: str) -> bool:
    return any(_p_is_vowel_at(s, i) for i in range(len(s)))


def _p_doublec(s: str) -> bool:
    return (len(s) >= 2 and s[-1] == s[-2]
            and not _p_is_vowel_at(s, len(s) - 1))


def _p_cvc(s: str) -> bool:
    """*o: stem ends cvc where the final c is not w, x or y."""
    if len(s) < 3:
        return False
    return (not _p_is_vowel_at(s, len(s) - 3)
            and _p_is_vowel_at(s, len(s) - 2)
            and not _p_is_vowel_at(s, len(s) - 1)
            and s[-1] not in "wxy")


_STEP2 = [("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
          ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
          ("alli", "al"), ("entli", "ent"), ("eli", "e"), ("ousli", "ous"),
          ("ization", "ize"), ("ation", "ate"), ("ator", "ate"),
          ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
          ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"),
          ("biliti", "ble")]
_STEP3 = [("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
          ("ical", "ic"), ("ful", ""), ("ness", "")]
_STEP4 = ["al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
          "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive",
          "ize"]


def porter_stem(w: str) -> str:
    """The Porter stemming algorithm (Porter, Program 14(3) 1980; public
    domain spec at tartarus.org/martin/PorterStemmer).  Operates on
    lowercase words; tokens shorter than 3 chars pass through (the spec's
    convention).  Non-alpha tokens pass through unchanged."""
    if len(w) <= 2 or not w.isalpha():
        return w
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    flag = False
    if w.endswith("eed"):
        if _porter_m(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and _p_vowel(w[:-2]):
        w = w[:-2]
        flag = True
    elif w.endswith("ing") and _p_vowel(w[:-3]):
        w = w[:-3]
        flag = True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _p_doublec(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif _porter_m(w) == 1 and _p_cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and _p_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            if _porter_m(w[:-len(suf)]) > 0:
                w = w[:-len(suf)] + rep
            break
    # step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            if _porter_m(w[:-len(suf)]) > 0:
                w = w[:-len(suf)] + rep
            break
    # step 4
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[:-len(suf)]
            if suf == "ion" and not stem.endswith(("s", "t")):
                break
            if _porter_m(stem) > 1:
                w = stem
            break
    # step 5a
    if w.endswith("e"):
        m = _porter_m(w[:-1])
        if m > 1 or (m == 1 and not _p_cvc(w[:-1])):
            w = w[:-1]
    # step 5b
    if _porter_m(w) > 1 and _p_doublec(w) and w.endswith("l"):
        w = w[:-1]
    return w


def apply_token_filters(toks: list[str], a: dict) -> list[str]:
    """Post-tokenize filter chain (stopwords → synonyms → stemmer) — the
    pure-Python mirror shared by py_tokenize / analyze / query-side
    analysis."""
    if a["stopwords"]:
        stop = set(a["stopwords"])
        toks = [t for t in toks if t not in stop]
    if a["synonyms"]:
        m = parse_synonyms(a["synonyms"])
        toks = [m.get(t, t) for t in toks]
    if a["stemmer"] == "light_english":
        toks = [light_stem(t) for t in toks]
    elif a["stemmer"] == "porter":
        toks = [porter_stem(t) for t in toks]
    return toks

_SCRIPT_STYLE_RE = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_HEAD_RE = re.compile(rb"<head\b[^>]*>.*?</head\s*>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"\s+")


def extract_text(html: bytes) -> str:
    """Deterministic text extraction from raw page bytes.

    Pipeline: drop <head>, drop <script>/<style> blocks, strip all tags,
    decode UTF-8 (replacement on invalid bytes), collapse whitespace, strip.
    Byte-identical output per url is the engine's per-row invariant vs the
    reference (BASELINE.json input_hint), so this function must never change
    without re-building golden fixtures.
    """
    if html is None:
        return ""
    stripped = _HEAD_RE.sub(b" ", html)
    stripped = _SCRIPT_STYLE_RE.sub(b" ", stripped)
    stripped = _TAG_RE.sub(b" ", stripped)
    text = stripped.decode("utf-8", errors="replace")
    return _WS_RE.sub(" ", text).strip()


def tokenize(text: str) -> list[str]:
    """NFC-normalize → casefold → extract ``[a-z0-9]+`` runs.

    Mirrors the JVM expression ``regexp_extract_all(lower(text), '[a-z0-9]+')``
    for inputs whose casefold equals lower() (true for the synthetic corpora;
    the parity test guards this).
    """
    if text is None:
        return []
    return TOKEN_RE.findall(unicodedata.normalize("NFC", text).casefold())


def _syn_col(t, mapping: dict[str, str]):
    """Column mirror of synonym_case_sql (grouped by target, same order)."""
    from pyspark.sql import functions as F

    by_target: dict[str, list[str]] = {}
    for s, tgt in sorted(mapping.items()):
        by_target.setdefault(tgt, []).append(s)
    c = None
    for tgt, srcs in sorted(by_target.items()):
        cond = t.isin(srcs)
        c = F.when(cond, F.lit(tgt)) if c is None else c.when(cond, F.lit(tgt))
    return c.otherwise(t) if c is not None else t


def _vowel_col(s):
    from functools import reduce
    from operator import or_

    return reduce(or_, (s.like(f"%{v}%") for v in "aeiou"))


def _light_p1_col(t):
    """Column mirror of light_stem_p1_sql (parity test-enforced)."""
    from pyspark.sql import functions as F

    ln = F.length(t)

    def cut(n):
        return t.substr(F.lit(1), ln - n)

    return (F.when((ln >= 5) & t.like("%sses"), cut(2))
            .when((ln >= 5) & t.like("%ies"), F.concat(cut(3), F.lit("y")))
            .when(t.like("%ss") | t.like("%us") | t.like("%is"), t)
            .when((ln >= 4) & t.like("%s"), cut(1))
            .otherwise(t))


def _light_p2_col(t):
    """Column mirror of light_stem_p2_sql."""
    from pyspark.sql import functions as F

    ln = F.length(t)

    def cut(n):
        return t.substr(F.lit(1), ln - n)

    return (F.when((ln >= 6) & t.like("%ing") & _vowel_col(cut(3)), cut(3))
            .when((ln >= 5) & t.like("%ed") & _vowel_col(cut(2)), cut(2))
            .when((ln >= 5) & t.like("%ly"), cut(2))
            .when((ln >= 5) & t.like("%e"), cut(1))
            .otherwise(t))


def porter_stem_lists(toks: pd.Series) -> pd.Series:
    """Porter-stem a batch of token lists, calling :func:`porter_stem` once
    per *distinct* token of the batch: the batch's tokens are flattened,
    dictionary-encoded, the dictionary is stemmed, and the lists are rebuilt
    from the original offsets (null lists stay null)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lists = pa.array(toks, type=pa.list_(pa.string()))
    enc = pc.dictionary_encode(lists.values)
    stems = pa.array([porter_stem(w) for w in enc.dictionary.to_pylist()],
                     pa.string())
    out = pa.ListArray.from_arrays(lists.offsets, stems.take(enc.indices),
                                   mask=lists.is_null())
    return out.to_pandas().set_axis(toks.index)


def porter_udf():
    """Arrow-vectorized Porter filter: array<string> → array<string>."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    return F.pandas_udf(porter_stem_lists, T.ArrayType(T.StringType()))


def jvm_tokens_col(col_name: str = "text", analyzer: dict | None = None):
    """JVM-side tokenizer column (whole-stage codegen; the hot path).

    Honors the per-index analyzer settings (A8): token pattern regex,
    lowercasing, a stopword exclusion list (``F.filter``, which keeps
    duplicates — ``array_except`` would dedupe and corrupt tf), the synonym
    normalization map, and the stemmer.  light_english stays pure Catalyst
    (two transform() passes mirroring the shared SQL templates); porter is
    the one Arrow-UDF stage (algorithmic filter, ES Java-filter analog)."""
    from pyspark.sql import functions as F

    a = resolve_analyzer(analyzer)
    src = F.col(col_name)
    if a["asciifolding"]:
        src = _asciifold_col(src)
    if a["lowercase"]:
        src = F.lower(src)
    toks = F.regexp_extract_all(src, F.lit(a["token_pattern"]), 0)
    if a["stopwords"]:
        toks = F.filter(toks, lambda t: ~t.isin(a["stopwords"]))
    if a["synonyms"]:
        m = parse_synonyms(a["synonyms"])
        if m:
            toks = F.transform(toks, lambda t: _syn_col(t, m))
    if a["stemmer"] == "light_english":
        toks = F.transform(toks, _light_p1_col)
        toks = F.transform(toks, _light_p2_col)
    elif a["stemmer"] == "porter":
        toks = porter_udf()(toks)
    return toks


def py_tokenize(text: str, analyzer: dict | None = None) -> list[str]:
    """Pure-Python analyzer mirror (oracle/test parity for custom settings)."""
    a = resolve_analyzer(analyzer)
    if text is None:
        return []
    src = asciifold(text) if a["asciifolding"] else text
    if a["lowercase"]:
        src = src.lower()
    return apply_token_filters(re.findall(a["token_pattern"], src), a)


def extract_text_udf():
    """Arrow-vectorized pandas UDF: html binary → extracted text string."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _extract(html: pd.Series) -> pd.Series:
        return html.map(extract_text)

    return _extract


def analyze(text: str, analyzer: dict | None = None) -> list[dict]:
    """The ES ``_analyze`` API: explain how ``text`` tokenizes under the
    (possibly index-persisted) analyzer settings — one dict per emitted
    token with its ``position`` (post-stopword positions are NOT
    renumbered: like Lucene's StopFilter, removal leaves position gaps so
    phrase/span queries keep true distances), character ``start_offset``/
    ``end_offset`` into the original text, and the stage trace
    (``lowercased``, ``stopword_removed=False`` by construction for
    emitted tokens).  Driver-side debug utility — index/query paths use
    the vectorized ``jvm_tokens_col``; this exists so an operator of the
    engine can answer "why did/didn't this document match" without
    reverse-engineering the analyzer config."""
    a = resolve_analyzer(analyzer)
    if text is None:
        return []
    src = text.lower() if a["lowercase"] else text
    stop = set(a["stopwords"] or [])
    syn = parse_synonyms(a["synonyms"]) if a["synonyms"] else {}
    out = []
    for pos, m in enumerate(re.finditer(a["token_pattern"], src)):
        tok = m.group(0)
        if tok in stop:
            continue
        tok2 = syn.get(tok, tok)
        if a["stemmer"] == "light_english":
            tok3 = light_stem(tok2)
        elif a["stemmer"] == "porter":
            tok3 = porter_stem(tok2)
        else:
            tok3 = tok2
        out.append({
            "token": tok3,
            "position": pos,
            "start_offset": m.start(),
            "end_offset": m.end(),
            "lowercased": bool(a["lowercase"])
            and text[m.start():m.end()] != tok,
            "synonym_of": tok if tok2 != tok else None,
            "stem_of": tok2 if tok3 != tok2 else None,
        })
    return out
