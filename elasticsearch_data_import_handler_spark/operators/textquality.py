"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language-ID, and document fingerprinting.

All JVM-side (array functions over the tokenized column — whole-stage
codegen, zero Python boundary).  Each has an exact DuckDB-SQL oracle in
``__spark_entry__.py``; the formulas below are duplicated there verbatim,
so change both together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOPWORDS = ("the", "a", "of", "and", "to")

# Public per-language marker tokens (tiny stopword lists) for the n-gram/
# token heuristic language-ID.  Deterministic argmax with fixed precedence.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "en": ("the", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "que", "los"),
    "fr": ("le", "les", "et", "des", "une", "est"),
}


def _tokens():
    return F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic document quality: length, mean token length, stopword and
    distinct ratios, combined score.  Formula mirrored in the SQL oracle."""
    toks = _tokens()
    n = F.size(toks).cast("double")
    sum_len = F.length(F.array_join(toks, "")).cast("double")
    stop = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    ).cast("double")
    distinct = F.size(F.array_distinct(toks)).cast("double")
    d = documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(sum_len / n, 6).alias("mean_token_len"),
        F.round(stop / n, 6).alias("stopword_ratio"),
        F.round(distinct / n, 6).alias("distinct_ratio"),
        F.round(
            F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(100.0))
            + F.lit(0.3) * (F.lit(1.0) - stop / n)
            + F.lit(0.3) * (distinct / n),
            6,
        ).alias("quality"),
    )
    return d


def text_metrics(documents: DataFrame) -> DataFrame:
    """One-pass union of the per-doc scalar text metrics: token counts,
    quality-score components, language-ID hits + prediction, and the md5
    content fingerprint — a single shuffle-free projection (every column is
    a codegen array/string expression over the same tokenization), which is
    how a 100 TB quality-filter pass actually runs: one scan, all features.

    Columns: doc_id, n_tokens, n_distinct, mean_token_len, stopword_ratio,
    distinct_ratio, quality, hits_{de,en,es,fr}, pred_lang, md5 — the
    quality columns are :func:`quality_score`'s formulas (shared oracle).
    Language-ID is the argmax of per-language marker hits; ties go to the
    alphabetically first language, zero-hit docs to 'und'."""
    toks = _tokens()
    n = F.size(toks).cast("double")
    sum_len = F.length(F.array_join(toks, "")).cast("double")
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    distinct = F.size(F.array_distinct(toks)).cast("double")

    def _hits(markers):
        return F.size(F.filter(toks, lambda t: t.isin(*markers))).cast("long")

    counts = {lang: _hits(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):  # reverse so earliest wins last
        pred = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(pred)
    sel = [
        F.col("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.round(sum_len / n, 6).alias("mean_token_len"),
        F.round(stop / n, 6).alias("stopword_ratio"),
        F.round(distinct / n, 6).alias("distinct_ratio"),
        F.round(
            F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(100.0))
            + F.lit(0.3) * (F.lit(1.0) - stop / n)
            + F.lit(0.3) * (distinct / n),
            6,
        ).alias("quality"),
    ]
    sel += [c.alias(f"hits_{lang}") for lang, c in counts.items()]
    sel += [pred.alias("pred_lang"), F.md5(F.col("text")).alias("md5")]
    return documents.select(*sel)


def repetition_metrics(documents: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, n_grams, distinct_ratio, repetition) — the standard
    repeated-n-gram quality filter (docs dominated by boilerplate/repeats
    have low distinct-2-gram ratios).  Built from the exploded-shingle form
    (codegen windows, no interpreted HOFs): one shuffle by doc."""
    from .dedup import shingles_exploded

    sh = shingles_exploded(documents, "doc_id", "text", n=n)
    return (sh.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.countDistinct("shingle").alias("n_distinct"))
            .select(F.col("id").alias("doc_id"),
                    F.col("n_grams").cast("long").alias("n_grams"),
                    F.round(F.col("n_distinct") / F.col("n_grams"), 6)
                    .alias("distinct_ratio"),
                    F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_grams"), 6)
                    .alias("repetition")))


def unigram_loglik(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_loglik) — CCNet-style unigram language-model
    score: mean over token occurrences of ln p(term), p(term) = corpus tf /
    corpus total tokens.  Low scores flag gibberish / rare-token spam; high
    scores flag stopword soup — the standard band-pass quality filter.

    Two shuffles total (corpus tf agg + per-doc agg); the corpus unigram
    table is broadcast (vocab is metadata-sized even at web scale)."""
    tok = documents.select("doc_id", F.explode(_tokens()).alias("term"))
    corpus = tok.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    total = corpus.agg(F.sum("ctf").alias("total"))
    lm = F.broadcast(corpus.crossJoin(F.broadcast(total)).select(
        "term", F.log(F.col("ctf") / F.col("total")).alias("loglik")))
    return (tok.join(lm, "term")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.avg("loglik").alias("m"))
            .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.round("m", 6).alias("mean_loglik")))


# PII patterns chosen for Java-regex / RE2 dialect parity (no lookarounds,
# no backrefs) so the DuckDB oracle applies the IDENTICAL expressions.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}",
}


def pii_redact(documents: DataFrame, text_col: str = "text",
               kinds: tuple[str, ...] = ("email", "ipv4", "phone")) -> DataFrame:
    """(doc_id, n_email, n_ipv4, n_phone, clean_text): count and redact PII
    spans — the scrub step every pretraining pipeline runs before packing.
    Each kind is replaced by a typed placeholder (``<EMAIL>`` …), counts
    come from the pre-redaction text.

    All JVM regexp (codegen, no Python); patterns are dialect-portable by
    construction (no lookaround/backref), which is what lets the driver's
    DuckDB oracle re-run the exact same regexes.  Redaction order is the
    fixed ``kinds`` order so overlapping matches resolve identically on
    every engine."""
    unknown = set(kinds) - set(PII_PATTERNS)
    if unknown:
        raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
    out = documents.select(
        "doc_id", F.col(text_col).alias("__t"),
        *[F.size(F.regexp_extract_all(F.col(text_col),
                                      F.lit(PII_PATTERNS[k]), 0))
          .cast("long").alias(f"n_{k}") for k in kinds])
    clean = F.col("__t")
    for k in kinds:
        clean = F.regexp_replace(clean, PII_PATTERNS[k], f"<{k.upper()}>")
    return out.select("doc_id", *[f"n_{k}" for k in kinds],
                      clean.alias("clean_text"))


def contamination_check(documents: DataFrame, benchmark_texts: list[str],
                        n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, n_hits): how many DISTINCT benchmark ``n``-grams a document
    contains — the train/test contamination screen (Brown et al.'s 13-gram
    overlap, parameterized).  Documents with n_hits ≥ 1 overlap the
    evaluation set and get dropped or flagged upstream.

    Scale shape: the benchmark gram set is tiny (eval suites are KBs, the
    corpus is the 100 TB side) — it broadcasts; document shingles stream
    through the same codegen window kernel as the dedup family and
    inner-join against the broadcast set, so cost is one pass over corpus
    tokens with no shuffle of the corpus side."""
    from .dedup import shingles_exploded

    grams = set()
    for t in benchmark_texts:
        toks = t.lower().split()
        grams.update(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))
    if not grams:
        raise ValueError(f"no benchmark {n}-grams (texts shorter than n?)")
    spark = documents.sparkSession
    bench = F.broadcast(spark.createDataFrame(
        [(g,) for g in sorted(grams)], "shingle string"))
    sh = shingles_exploded(documents, "doc_id", text_col, n=n)
    return (sh.join(bench, "shingle")
            .groupBy("id")
            .agg(F.countDistinct("shingle").cast("long").alias("n_hits"))
            .select(F.col("id").alias("doc_id"), "n_hits"))


DEFAULT_FILTER_THRESHOLDS: dict[str, float] = {
    "min_tokens": 20,          # C4: drop very short pages
    "min_quality": 0.5,        # heuristic quality floor
    "max_repetition": 0.2,     # repeated-2-gram boilerplate ceiling
    "min_mean_loglik": -9.0,   # gibberish / rare-token spam floor
    "max_mean_loglik": -4.0,   # stopword-soup ceiling (band-pass)
}


def quality_filter(documents: DataFrame,
                   thresholds: dict[str, float] | None = None,
                   allowed_langs: tuple[str, ...] | None = None) -> DataFrame:
    """The composite C4/RefinedWeb-style document filter: every per-doc
    quality signal the engine computes — token count, heuristic quality,
    repeated-2-gram ratio, CCNet unigram log-likelihood band, predicted
    language — evaluated against thresholds in ONE pass, emitting
    (doc_id, keep, reasons) where ``reasons`` is the sorted array of
    every failed rule (pipelines keep drop-reason histograms, not just
    the verdict).

    Plan: text_metrics is a shuffle-free projection; repetition and
    loglik each contribute their one/two aggregation shuffles exactly as
    when run standalone (all three are separately driver-gated); the
    combine is two doc-keyed joins, no new scan of the text."""
    t = dict(DEFAULT_FILTER_THRESHOLDS, **(thresholds or {}))
    tm = text_metrics(documents).select(
        "doc_id", "n_tokens", "quality", "pred_lang")
    rep = repetition_metrics(documents, n=2).select("doc_id", "repetition")
    ll = unigram_loglik(documents).select("doc_id", "mean_loglik")
    j = tm.join(rep, "doc_id", "left").join(ll, "doc_id", "left")
    rules = [
        ("short", F.col("n_tokens") < F.lit(int(t["min_tokens"]))),
        ("low_quality", F.col("quality") < F.lit(float(t["min_quality"]))),
        ("repetitive", F.coalesce(F.col("repetition"), F.lit(1.0))
         > F.lit(float(t["max_repetition"]))),
        ("gibberish", F.coalesce(F.col("mean_loglik"), F.lit(-1e9))
         < F.lit(float(t["min_mean_loglik"]))),
        ("stopword_soup", F.col("mean_loglik")
         > F.lit(float(t["max_mean_loglik"]))),
    ]
    if allowed_langs is not None:
        rules.append(("lang", ~F.col("pred_lang").isin(*allowed_langs)))
    reasons = F.array_sort(F.array_compact(F.array(
        *[F.when(cond, F.lit(name)) for name, cond in sorted(rules)])))
    return j.select("doc_id", "n_tokens", "quality", "repetition",
                    "mean_loglik", "pred_lang",
                    (F.size(reasons) == 0).alias("keep"),
                    reasons.alias("reasons"))


def line_dedup(documents: DataFrame, min_df: int = 2,
               id_col: str = "doc_id", text_col: str = "text",
               sep: str = "\n") -> DataFrame:
    """Corpus-level LINE deduplication — the C4/RefinedWeb boilerplate
    step: a line (``sep``-delimited span) that appears in ≥ ``min_df``
    DISTINCT documents is boilerplate (nav bars, cookie banners, footers)
    and is removed from every document; order of surviving lines is
    preserved.  Returns (doc_id, text, n_lines_kept, n_lines_removed).

    Scale shape: explode to (doc, pos, line-hash) — the line TEXT never
    shuffles, only its xxhash64 — one groupBy(hash) computing the
    distinct-doc df with a map-side partial, one hash-keyed semi-join
    back, one groupBy(doc) re-assembly via sort_array over (pos, line)
    structs.  Two inherent shuffles (line-keyed, doc-keyed), both on
    compact keys; never an all-pairs comparison.  Blank lines are kept
    verbatim (they carry no boilerplate signal and C4 treats them as
    layout).

    ``sep`` is a REGEX for the split but a literal for the rejoin — pass a
    metacharacter-free separator (the default newline is); a regex like
    ``'[.!?]'`` would not round-trip."""
    lines = (documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep)))
        .alias("pos", "line")))
    keyed = lines.withColumn(
        "h", F.when(F.trim("line") == "", F.lit(None))
        .otherwise(F.xxhash64(F.trim(F.col("line")))))
    df_counts = (keyed.filter(F.col("h").isNotNull())
                 .groupBy("h")
                 .agg(F.count_distinct("doc_id").alias("line_df")))
    boiler = df_counts.filter(F.col("line_df") >= int(min_df)).select("h")
    flagged = keyed.join(boiler.withColumn("__b", F.lit(1)), "h", "left")
    return (flagged.groupBy("doc_id").agg(
        F.concat_ws(sep, F.transform(
            F.sort_array(F.collect_list(F.when(
                F.col("__b").isNull(),
                F.struct("pos", "line")))),
            lambda s: s["line"])).alias("text"),
        F.sum(F.when(F.col("__b").isNull(), 1).otherwise(0))
        .cast("long").alias("n_lines_kept"),
        F.sum(F.when(F.col("__b").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_lines_removed")))


def dup_span_fraction(documents: DataFrame, window: int = 20,
                      min_df: int = 2, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): hash every ``window``-token
    rolling span; a span whose hash occurs in ≥ ``min_df`` DISTINCT documents
    is duplicated; per document report how many token positions at least one
    duplicated span covers (merged-interval union, not Σ window — overlapping
    spans don't double-count) and the covered fraction — the filter signal
    the paper thresholds.

    Scale shape: spans shuffle as xxhash64 longs only (the span TEXT never
    leaves the map side); one groupBy(hash) df-count with map-side partials;
    a hash-keyed semi-join back; the interval union is one lag() window
    partitioned by doc (coverage added by a span at pos after a span at
    prev is min(window, pos - prev) — ends are monotone for fixed width, so
    the classic running-max sweep degenerates to a lag difference).  Never
    all-pairs, never a span-text shuffle."""
    from pyspark.sql import Window as W

    toks = F.regexp_extract_all(F.lower(F.col(text_col)),
                                F.lit("[a-z0-9]+"), 0)
    base = documents.select(F.col(id_col).alias("doc_id"),
                            F.posexplode(toks).alias("pos", "t"))
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("t").alias("t0")] + [
        F.lead("t", i).over(w).alias(f"t{i}") for i in range(1, window)]
    spans = (base.select("doc_id", "pos", *parts)
             .filter(F.col(f"t{window - 1}").isNotNull())
             .select("doc_id", "pos", F.xxhash64(F.concat_ws(
                 " ", *[f"t{i}" for i in range(window)])).alias("h")))
    dup = (spans.groupBy("h")
           .agg(F.count_distinct("doc_id").alias("span_df"))
           .filter(F.col("span_df") >= int(min_df)).select("h"))
    hits = spans.join(dup, "h", "semi")
    add = F.coalesce(
        F.least(F.lit(window), F.col("pos") - F.lag("pos").over(w)),
        F.lit(window))
    cov = (hits.select("doc_id", "pos").withColumn("add", add)
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_dup_windows"),
                F.sum("add").cast("long").alias("covered_tokens")))
    tc = documents.select(F.col(id_col).alias("doc_id"),
                          F.size(toks).cast("long").alias("n_tokens"))
    return (tc.join(cov, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_dup_windows", F.lit(0)).cast("long")
                    .alias("n_dup_windows"),
                    F.coalesce("covered_tokens", F.lit(0)).cast("long")
                    .alias("covered_tokens"),
                    F.round(F.coalesce("covered_tokens", F.lit(0))
                            / F.greatest("n_tokens", F.lit(1)), 6)
                    .alias("dup_fraction")))
