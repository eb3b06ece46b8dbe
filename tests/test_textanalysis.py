"""Tokenizer JVM↔Python parity + extraction byte-identity through Arrow."""

from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.functions.textanalysis import (
    extract_text,
    extract_text_udf,
    jvm_tokens_col,
    tokenize,
)
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages


def test_tokenize_pure():
    assert tokenize("The  Fast, JOIN!") == ["the", "fast", "join"]
    assert tokenize("") == []
    assert tokenize(None) == []
    assert tokenize("a1b2 3c") == ["a1b2", "3c"]


def test_extract_text_pure():
    html = b"<html><head><title>t</title></head><body>hello <b>world</b></body></html>"
    assert extract_text(html) == "hello world"
    assert extract_text(b"<body>a<script>var x=1;</script>b</body>") == "a b"
    assert extract_text(None) == ""


def test_jvm_python_tokenizer_parity(spark, documents):
    """The hot-path JVM tokenizer must equal the oracle tokenizer per doc."""
    df = documents.limit(200).select(
        "doc_id", "text", jvm_tokens_col("text").alias("jvm_tokens")
    )
    rows = df.collect()
    for r in rows:
        assert list(r["jvm_tokens"]) == tokenize(r["text"]), f"doc {r['doc_id']}"


def test_extraction_byte_identity_through_arrow(spark):
    """north_rule invariant: extracted text byte-identical per url, UDF vs oracle."""
    pages = synth_pages(spark, 120, seed=42)
    out = pages.select("url", "html", "text",
                       extract_text_udf()(F.col("html")).alias("recomputed"))
    for r in out.collect():
        oracle = extract_text(bytes(r["html"]))
        assert r["recomputed"].encode() == oracle.encode(), r["url"]
        assert r["text"].encode() == oracle.encode(), r["url"]


def test_query_analyzer_matches_index_analyzer():
    """A8: query-side tokenization honors the index's persisted analyzer."""
    from elasticsearch_data_import_handler_spark.functions.textanalysis import (
        py_tokenize, resolve_analyzer)
    from elasticsearch_data_import_handler_spark.queryset import query_terms

    an = {"stopwords": ["the", "of"], "token_pattern": "[a-z]+"}
    assert py_tokenize("The King of Spain 99", an) == ["king", "spain"]
    assert query_terms("the king of spain the", an) == ["king", "spain"]
    assert query_terms("the king of spain") == ["the", "king", "of", "spain"]
    import pytest
    with pytest.raises(ValueError, match="unknown analyzer"):
        resolve_analyzer({"bogus": 1})


def test_chunk_documents_invariants(spark):
    """Window coverage: every token index appears in ≥1 chunk; consecutive
    chunks overlap by exactly `overlap` (except a short tail); n_tokens
    matches the emitted text."""
    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        chunk_documents)

    text = " ".join(f"w{i:03d}" for i in range(150))
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "")],
                               "doc_id long, text string")
    rows = sorted(chunk_documents(df, chunk_size=64, overlap=16).collect(),
                  key=lambda r: (r["doc_id"], r["chunk_id"]))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc                      # empty doc yields nothing
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 2
    chunks = [r["chunk_text"].split() for r in by_doc[1]]
    # starts every 48 tokens; full coverage, exact overlap
    flat = set()
    for c in chunks:
        flat.update(c)
    assert len(flat) == 150
    for a, b in zip(chunks, chunks[1:]):
        assert a[48:] == b[:len(a) - 48]        # 16-token overlap (or tail)
    for r in rows:
        assert r["n_tokens"] == len(r["chunk_text"].split())


def test_stratified_sample_deterministic_and_rated(spark, sf_dir):
    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        stratified_sample)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 0.5, "zh": 0.0}
    s1 = {r["doc_id"] for r in
          stratified_sample(docs, rates, default_rate=1.0).collect()}
    s2 = {r["doc_id"] for r in
          stratified_sample(docs, rates, default_rate=1.0).collect()}
    assert s1 == s2                              # reproducible membership
    langs = {r["doc_id"]: r["lang"] for r in docs.collect()}
    assert not any(langs[d] == "zh" for d in s1)  # rate 0 strata excluded
    n_en_all = sum(1 for v in langs.values() if v == "en")
    n_en_kept = sum(1 for d in s1 if langs[d] == "en")
    assert 0.3 * n_en_all < n_en_kept < 0.7 * n_en_all  # ~50% of en
    n_other = sum(1 for v in langs.values() if v not in ("en", "zh"))
    assert sum(1 for d in s1 if langs[d] not in ("en", "zh")) == n_other


def test_phrase_fuzzy_snippet_semantics(spark):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        fuzzy_terms, phrase_match, snippets)

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta"),   # 2 in-order occurrences
         (2, "beta alpha"),                    # reversed — no match
         (3, "alpha  beta"),                   # token-based: still a phrase
         (4, "alphax betay")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_occurrences"]
           for r in phrase_match(df, "alpha beta").collect()}
    assert got == {1: 2, 3: 1}
    fz = {r["term"]: r["dist"] for r in fuzzy_terms(df, "beta", 1).collect()}
    assert fz == {"beta": 0, "betay": 1}
    sn = {r["doc_id"]: r["snippet"] for r in snippets(df, "beta").collect()}
    assert set(sn) == {1, 2, 3, 4}  # substring semantics incl. betay
    assert "beta" in sn[1]


def test_highlight_fragments_multi(spark):
    """ES multi-fragment highlighter: fixed windows, per-fragment hit
    scores (duplicates count), rank = hits DESC then position ASC, zero-hit
    fragments dropped, top number_of_fragments kept."""
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        highlight_fragments)

    df = spark.createDataFrame(
        [(1, "spark spark junk merge end spark"),
         (2, "nothing here at all"),
         (3, "")],
        "doc_id long, text string")
    rows = sorted(
        highlight_fragments(df, ["SPARK", "merge"], fragment_size=12,
                            number_of_fragments=2).collect(),
        key=lambda r: r["frag_rank"])
    # doc 1 fragments: 'spark spark ' (2 hits), 'junk merge e' (1),
    # 'nd spark' (1) — rank keeps the first two
    assert [(r["doc_id"], r["frag_rank"], r["frag_start"], r["n_hits"],
             r["fragment"]) for r in rows] == [
        (1, 1, 1, 2, "spark spark "),
        (1, 2, 13, 1, "junk merge e")]


def test_expand_terms_methods(spark):
    """ES multi-term expansion: fuzzy/prefix/wildcard flags from ONE
    vocabulary pass; a term matching several methods yields one row each;
    wildcard * / ? follow ES glob semantics (LIKE translation)."""
    import pytest as _pytest

    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        expand_terms)

    df = spark.createDataFrame(
        [(1, "beta betay bet alpha"), (2, "beta delta be_a")],
        "doc_id long, text string")
    rows = expand_terms(df, fuzzy="beta", max_dist=1, prefix="bet",
                        wildcard="b*a").collect()
    got = {(r["method"], r["term"]): r["df"] for r in rows}
    assert got == {
        ("fuzzy", "beta"): 2, ("fuzzy", "betay"): 1, ("fuzzy", "bet"): 1,
        # tokenizer splits be_a -> (be, a); 'beta'->'be' is 2 edits, excluded
        ("prefix", "beta"): 2, ("prefix", "betay"): 1, ("prefix", "bet"): 1,
        ("wildcard", "beta"): 2,   # 'b*a' anchors both ends: betay excluded
    }
    only_wild = expand_terms(df, wildcard="?et?").collect()
    assert {r["term"] for r in only_wild} == {"beta"}
    with _pytest.raises(ValueError):
        expand_terms(df)


def test_symspell_equals_levenshtein_scan(spark):
    """SymSpell deletion-neighborhood fuzzy must return EXACTLY the
    full-vocabulary Levenshtein scan's rows at max_dist 1 and 2 (deletion
    keys are a complete cover for edit distance ≤ d)."""
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        fuzzy_terms, symspell_terms)

    df = spark.createDataFrame(
        [(1, "beta bta betax bxta xbeta abcdef beat"),
         (2, "beta zzz betaxy baeta")],
        "doc_id long, text string")
    for d in (1, 2):
        exp = {(r["term"], r["dist"])
               for r in fuzzy_terms(df, "beta", d).collect()}
        got = {(r["term"], r["dist"])
               for r in symspell_terms(df, "beta", d).collect()}
        assert got == exp and len(got) > 1, (d, got, exp)


def test_pack_sequences_invariants(spark):
    """Concat-and-split packing: every sequence but the last holds exactly
    seq_len tokens, pieces tile each chunk without gaps, lineage offsets
    reconstruct the global stream, and the result is independent of the
    prefix-sum bucket count (the distributed scan is exact)."""
    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        chunk_documents, pack_sequences)

    texts = [(i, " ".join(f"t{i}x{j}" for j in range(17 + (i * 37) % 140)))
             for i in range(1, 30)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    ch = chunk_documents(df, chunk_size=64, overlap=16)
    L = 100
    rows = pack_sequences(ch, seq_len=L, n_buckets=7).collect()

    # per-sequence totals: exactly L except the last
    per_seq = {}
    for r in rows:
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["piece_len"]
    last = max(per_seq)
    assert set(per_seq) == set(range(last + 1))      # dense sequence ids
    for s, tot in per_seq.items():
        assert tot == L or (s == last and 0 < tot <= L), (s, tot)

    # pieces tile each chunk: tok_offs are contiguous and sum to n_tokens
    n_by_chunk = {(r["doc_id"], r["chunk_id"]): r["n_tokens"]
                  for r in ch.collect()}
    by_chunk = {}
    for r in rows:
        by_chunk.setdefault((r["doc_id"], r["chunk_id"]), []).append(r)
    assert set(by_chunk) == set(n_by_chunk)
    for key, ps in by_chunk.items():
        ps.sort(key=lambda r: r["tok_off"])
        assert ps[0]["tok_off"] == 0
        for a, b in zip(ps, ps[1:]):
            assert a["tok_off"] + a["piece_len"] == b["tok_off"]
            assert a["seq_id"] + 1 == b["seq_id"]     # straddles are adjacent
        assert sum(p["piece_len"] for p in ps) == n_by_chunk[key]

    # global stream order: seq_id*L + seq_off is the chunk-order prefix sum
    firsts = sorted((r for r in rows if r["tok_off"] == 0),
                    key=lambda r: (r["doc_id"], r["chunk_id"]))
    acc = 0
    for r in firsts:
        assert r["seq_id"] * L + r["seq_off"] == acc
        acc += n_by_chunk[(r["doc_id"], r["chunk_id"])]

    # bucket-count independence
    alt = pack_sequences(ch, seq_len=L, n_buckets=1000).collect()
    key = lambda r: (r["doc_id"], r["chunk_id"], r["seq_id"],
                     r["seq_off"], r["tok_off"], r["piece_len"])
    assert sorted(map(key, alt)) == sorted(map(key, rows))


def test_pack_sequences_drops_zero_length_chunks(spark):
    """n=0 chunks must contribute no pieces and no stream positions (a
    descending F.sequence from a stop<start bound would otherwise emit
    bogus rows)."""
    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        pack_sequences)

    ch = spark.createDataFrame(
        [(1, 0, 16), (1, 1, 0), (2, 0, 0), (2, 1, 8), (3, 0, 0)],
        "doc_id long, chunk_id long, n_tokens long")
    rows = pack_sequences(ch, seq_len=16, n_buckets=4).collect()
    keys = {(r["doc_id"], r["chunk_id"]) for r in rows}
    assert keys == {(1, 0), (2, 1)}
    assert all(r["piece_len"] > 0 for r in rows)
    # stream is contiguous across the surviving chunks: 16 + 8 tokens
    assert sum(r["piece_len"] for r in rows) == 24


def test_pii_redact_counts_and_placeholders(spark):
    from elasticsearch_data_import_handler_spark.operators.textquality import (
        pii_redact)

    df = spark.createDataFrame([
        (1, "mail a.b+c@x-y.org and d@e.io ip 10.0.0.1 call +44-207-7946-0958"),
        (2, "no pii here just text"),
        (3, "edge 999.999.1.1 and half@mail"),   # ipv4 digits match; bad email ignored
    ], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert (rows[1]["n_email"], rows[1]["n_ipv4"], rows[1]["n_phone"]) == (2, 1, 1)
    assert "<EMAIL>" in rows[1]["clean_text"]
    assert "<IPV4>" in rows[1]["clean_text"]
    assert "<PHONE>" in rows[1]["clean_text"]
    assert "@" not in rows[1]["clean_text"]
    assert (rows[2]["n_email"], rows[2]["n_ipv4"], rows[2]["n_phone"]) == (0, 0, 0)
    assert rows[2]["clean_text"] == "no pii here just text"
    assert rows[3]["n_ipv4"] == 1 and rows[3]["n_email"] == 0
    import pytest
    with pytest.raises(ValueError):
        pii_redact(df, kinds=("email", "ssn"))


def test_contamination_check_distinct_gram_hits(spark):
    from elasticsearch_data_import_handler_spark.operators.textquality import (
        contamination_check)

    bench = ["the quick brown fox", "alpha beta gamma"]
    df = spark.createDataFrame([
        (1, "saw the quick brown fox and the quick brown fox again"),
        (2, "alpha beta gamma delta"),
        (3, "quick brown cat"),
        (4, "beta gamma alpha"),     # grams out of order: no 3-gram overlap
    ], "doc_id long, text string")
    got = {r["doc_id"]: r["n_hits"]
           for r in contamination_check(df, bench, n=3).collect()}
    # doc 1: grams {the quick brown, quick brown fox} both hit, DISTINCT=2
    assert got == {1: 2, 2: 1}
    import pytest
    with pytest.raises(ValueError):
        contamination_check(df, ["too short"], n=3)


def test_mixture_sample_hits_target_proportions(spark, sf_dir):
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        mixture_sample)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {"en": 5, "de": 3, "fr": 1, "es": 1}
    out = mixture_sample(docs, weights, stratum_col="lang")
    kept = {r["lang"]: r["n"] for r in
            out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_in = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(kept) <= set(weights)          # unweighted strata dropped
    # the binding stratum keeps everything
    b = min(weights, key=lambda s: ((n_in[s] * 10**6) // weights[s], s))
    assert kept[b] == n_in[b]
    # realized mixture tracks the target ratios (hash granularity tolerance)
    total_w = sum(weights[s] for s in kept)
    total_n = sum(kept.values())
    for s, n in kept.items():
        assert abs(n / total_n - weights[s] / total_w) < 0.05, (s, kept)
    # deterministic
    again = mixture_sample(docs, weights, stratum_col="lang")
    assert sorted(r["doc_id"] for r in out.collect()) == \
        sorted(r["doc_id"] for r in again.collect())
    import pytest as _pt
    with _pt.raises(ValueError):
        mixture_sample(docs, {"en": 0})
    with _pt.raises(ValueError):
        mixture_sample(docs, {"klingon": 3}, stratum_col="lang")


def test_cap_per_key_caps_and_is_unbiased_deterministic(spark, sf_dir):
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        cap_per_key)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = cap_per_key(docs, "source", 15)
    per = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    full = {r["source"]: r["n"] for r in
            docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for s, n in full.items():
        assert per[s] == min(n, 15)
    # below-cap keys pass through untouched
    small = cap_per_key(docs, "source", 10_000)
    assert small.count() == docs.count()
    import pytest as _pt
    with _pt.raises(ValueError):
        cap_per_key(docs, "source", 0)


def test_cap_per_key_null_heavy_key(spark):
    """NULL keys form a capped run like any other (NaN-aware precap carry);
    precap and no-precap results are identical on a NULL-heavy column."""
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        cap_per_key)

    df = (spark.range(500)
          .select(F.col("id").alias("doc_id"),
                  F.when(F.col("id") % 5 < 3, None)
                  .otherwise((F.col("id") % 7).cast("string"))
                  .alias("key"))
          .repartition(8))
    out = cap_per_key(df, "key", 4)
    per = {r["key"]: r["n"] for r in
           out.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n <= 4 for n in per.values()), per
    assert per[None] == 4  # 300 NULL-key rows capped to 4
    want = sorted(r["doc_id"] for r in
                  cap_per_key(df, "key", 4, precap=False).collect())
    assert sorted(r["doc_id"] for r in out.collect()) == want


def test_quality_filter_composite(spark, sf_dir):
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.operators.textquality import (
        quality_filter, repetition_metrics, text_metrics, unigram_loglik)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # thresholds tuned to the fixture's ranges so every rule can fire
    th = {"min_tokens": 20, "min_quality": 0.5, "max_repetition": 0.1,
          "min_mean_loglik": -3.7, "max_mean_loglik": -3.4}
    out = quality_filter(docs, thresholds=th,
                         allowed_langs=("en", "und")).collect()
    assert len(out) == docs.count()
    # reasons must be exactly the rules each doc fails, recomputed from the
    # separately-gated metric operators
    tm = {r["doc_id"]: r for r in text_metrics(docs).collect()}
    rep = {r["doc_id"]: r["repetition"]
           for r in repetition_metrics(docs, n=2).collect()}
    ll = {r["doc_id"]: r["mean_loglik"] for r in unigram_loglik(docs).collect()}
    kept = 0
    for r in out:
        d = r["doc_id"]
        want = set()
        if tm[d]["n_tokens"] < 20:
            want.add("short")
        if tm[d]["quality"] < 0.5:
            want.add("low_quality")
        if rep.get(d, 1.0) > 0.1:
            want.add("repetitive")
        if ll.get(d, -1e9) < -3.7:
            want.add("gibberish")
        if ll.get(d) is not None and ll[d] > -3.4:
            want.add("stopword_soup")
        if tm[d]["pred_lang"] not in ("en", "und"):
            want.add("lang")
        assert set(r["reasons"]) == want, (d, r["reasons"], want)
        assert r["keep"] == (not want)
        kept += r["keep"]
    assert 0 < kept < len(out)  # the chain must actually discriminate


# ------------------------------------------------------------------- BPE

def test_bpe_segment_properties():
    """Segmentation invariants: concatenation round-trips to the word, a
    word with no merges stays characters, merge priority is respected
    (lower rank fuses first)."""
    from elasticsearch_data_import_handler_spark.functions.bpe import (
        bpe_segment)

    ranks = {("a", "b"): 0, ("ab", "c"): 1, ("b", "c"): 2}
    assert bpe_segment("abc", ranks) == ["abc"]      # ab (rank0) then abc
    assert bpe_segment("bc", ranks) == ["bc"]        # rank2 alone
    assert bpe_segment("xyz", ranks) == ["x", "y", "z"]
    for w in ("abcabc", "aabbcc", "cab"):
        assert "".join(bpe_segment(w, ranks)) == w


def test_bpe_counts_and_pack_exactly_L(spark, sf_dir):
    """BPE mode end-to-end: kernel counts equal the pure-Python reference,
    and packing the BPE stream gives every sequence except the last exactly
    seq_len tokens (the GPT-style packing invariant in subword mode)."""
    import re

    from elasticsearch_data_import_handler_spark.functions import bpe
    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        pack_sequences)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe.load_merges()
    ranks = {p: i for i, p in enumerate(merges)}
    counts = bpe.bpe_token_counts(docs, merges)
    got = {r["doc_id"]: r["n_tokens"] for r in counts.collect()}
    rx = re.compile("[a-z0-9]+")
    for row in docs.select("doc_id", "text").limit(50).collect():
        want = sum(len(bpe.bpe_segment(w, ranks))
                   for w in rx.findall(row["text"].lower()))
        assert got[row["doc_id"]] == want
    packed = pack_sequences(
        counts.select("doc_id", F.lit(0).cast("long").alias("chunk_id"),
                      "n_tokens"),
        seq_len=128, n_buckets=32).collect()
    per_seq = {}
    for r in packed:
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["piece_len"]
    last = max(per_seq)
    for sid, total in per_seq.items():
        assert total == 128 or (sid == last and 0 < total <= 128), (sid, total)


def test_bpe_chunking_windows_subword_stream(spark, sf_dir):
    """chunk_documents(tokens_col=...) windows the encoded subword stream:
    chunk token counts are full-size except the tail, and re-joining the
    chunk pieces (accounting for overlap) reproduces the encoded stream."""
    from elasticsearch_data_import_handler_spark.functions import bpe
    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        chunk_documents)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    enc = bpe.bpe_encode(docs, bpe.load_merges())
    ch = chunk_documents(enc, chunk_size=32, overlap=8,
                         tokens_col="pieces").collect()
    enc_rows = {r["doc_id"]: list(r["pieces"]) for r in enc.collect()}
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        stream = enc_rows[doc_id]
        for i, r in enumerate(rows):
            start = i * 24  # step = 32 - 8
            want = stream[start:start + 32]
            assert r["chunk_text"].split(" ") == want
            assert r["n_tokens"] == len(want)


_STEM_WORDS = [
    # plural family
    "caresses", "ponies", "ties", "caress", "cats", "less", "analysis",
    "status", "ss", "s", "is", "gas", "this",
    # suffix family
    "running", "sing", "string", "merging", "merged", "merges", "merge",
    "tables", "table", "value", "values", "early", "only", "apply", "state",
    "line", "lines", "thing", "things", "bring", "inging",
    # degenerate / non-alpha
    "a", "ab", "abc", "123", "12s", "x9ing", "sses", "ies", "ed", "ing",
    "yyy", "fly", "flys", "ly", "eed", "agreed",
]


def test_light_stem_three_way_parity(spark):
    """light_english must produce IDENTICAL strings from (a) the pure-Python
    mirror, (b) the Spark Column chain the index applies, and (c) the DuckDB
    SQL templates the oracle replays — over an adversarial word list plus
    the full sf0.001 corpus vocabulary."""
    import duckdb

    from elasticsearch_data_import_handler_spark.functions.textanalysis import (
        _light_p1_col, _light_p2_col, light_stem, light_stem_p1_sql,
        light_stem_p2_sql)

    from conftest import SF_UNIT

    vocab = [r["t"] for r in spark.read.parquet(f"{SF_UNIT}/documents.parquet")
             .select(F.explode(F.regexp_extract_all(
                 F.lower("text"), F.lit("[a-z0-9]+"), 0)).alias("t"))
             .distinct().collect()]
    words = sorted(set(_STEM_WORDS) | set(vocab))
    py = [light_stem(w) for w in words]
    sdf = spark.createDataFrame([(w,) for w in words], "t string")
    sp = [r["s"] for r in sdf.select(
        _light_p2_col(_light_p1_col(F.col("t"))).alias("s"))
        .collect()]
    inner = light_stem_p1_sql("t")
    outer = light_stem_p2_sql("s")
    con = duckdb.connect()
    con.execute("CREATE TABLE w(t VARCHAR)")
    con.executemany("INSERT INTO w VALUES (?)", [(w,) for w in words])
    dk = [r[0] for r in con.execute(
        f"SELECT {outer} FROM (SELECT {inner} AS s FROM w)").fetchall()]
    assert py == sp, [x for x in zip(words, py, sp) if x[1] != x[2]][:5]
    assert py == dk, [x for x in zip(words, py, dk) if x[1] != x[2]][:5]


def test_porter_known_vectors():
    """Porter (1980) — the paper's worked examples."""
    from elasticsearch_data_import_handler_spark.functions.textanalysis import (
        porter_stem)

    pairs = {
        "caresses": "caress", "ponies": "poni", "ties": "ti",
        "caress": "caress", "cats": "cat", "feed": "feed",
        "agreed": "agre", "plastered": "plaster", "bled": "bled",
        "motoring": "motor", "sing": "sing", "conflated": "conflat",
        "troubled": "troubl", "sized": "size", "hopping": "hop",
        "tanned": "tan", "falling": "fall", "hissing": "hiss",
        "fizzed": "fizz", "failing": "fail", "filing": "file",
        "happy": "happi", "sky": "sky", "relational": "relat",
        "conditional": "condit", "rational": "ration",
        "valenci": "valenc", "hesitanci": "hesit", "digitizer": "digit",
        "operator": "oper", "feudalism": "feudal",
        "decisiveness": "decis", "hopefulness": "hope",
        "callousness": "callous", "formaliti": "formal",
        "sensitiviti": "sensit", "sensibiliti": "sensibl",
        "triplicate": "triplic", "formative": "form", "formalize": "formal",
        "electriciti": "electr", "electrical": "electr", "hopeful": "hope",
        "goodness": "good", "revival": "reviv", "allowance": "allow",
        "inference": "infer", "airliner": "airlin", "gyroscopic": "gyroscop",
        "adjustable": "adjust", "defensible": "defens", "irritant": "irrit",
        "replacement": "replac", "adjustment": "adjust",
        "dependent": "depend", "adoption": "adopt", "homologou": "homolog",
        "communism": "commun", "activate": "activ", "angulariti": "angular",
        "homologous": "homolog", "effective": "effect", "bowdlerize":
        "bowdler", "probate": "probat", "rate": "rate", "cease": "ceas",
        "controll": "control", "roll": "roll",
    }
    got = {w: porter_stem(w) for w in pairs}
    bad = {w: (g, pairs[w]) for w, g in got.items() if g != pairs[w]}
    assert not bad, bad


def test_porter_stems_each_distinct_token_once(monkeypatch):
    """The porter filter's batch kernel calls porter_stem at most once per
    distinct token of the batch (Zipf text repeats tokens), and returns the
    lists a per-occurrence stem would, null and empty lists included."""
    import numpy as np
    import pandas as pd

    from elasticsearch_data_import_handler_spark.functions import textanalysis as ta

    rng = np.random.default_rng(5)
    vocab = np.array(["running", "runs", "caresses", "ponies", "happy",
                      "relational", "sky", "motoring", "a", "cats"], dtype=object)
    rows = [vocab[rng.zipf(1.6, size=int(rng.integers(0, 40))) % vocab.size]
            for _ in range(300)]
    batch = pd.Series(rows + [None], dtype=object)
    want = [None if xs is None else [ta.porter_stem(t) for t in xs]
            for xs in batch]
    calls = []
    stem = ta.porter_stem
    monkeypatch.setattr(ta, "porter_stem", lambda w: calls.append(w) or stem(w))
    got = ta.porter_stem_lists(batch)
    distinct = {t for xs in rows for t in xs}
    assert len(calls) <= len(distinct) < sum(len(xs) for xs in rows)
    assert [None if xs is None else list(xs) for xs in got] == want


def test_synonym_rules_and_conflicts():
    from elasticsearch_data_import_handler_spark.functions.textanalysis import (
        parse_synonyms, py_tokenize)

    m = parse_synonyms(["fast, quick => rapid", "merge, join"])
    assert m == {"fast": "rapid", "quick": "rapid", "join": "merge"}
    an = {"synonyms": ["fast, quick => rapid", "merge, join"],
          "stemmer": "light_english", "stopwords": ["the"]}
    assert py_tokenize("the fast merging tables", an) == [
        "rapid", "merg", "tabl"]
    import pytest
    with pytest.raises(ValueError, match="conflicting"):
        parse_synonyms(["a => b", "a => c"])
    with pytest.raises(ValueError, match="multi-word"):
        parse_synonyms(["new york => nyc"])


def test_stemming_analyzer_build_query_roundtrip(spark, tmp_path):
    """A8 round-trip: an index built with {stopwords, synonyms, porter} and
    a query analyzed with the PERSISTED analyzer retrieve exactly the docs
    whose python-recounted analyzed tokens contain the query term."""
    from elasticsearch_data_import_handler_spark.functions.textanalysis import (
        py_tokenize)
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        bool_query)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.queryset import query_terms
    from elasticsearch_data_import_handler_spark.sources.corpus import (
        synth_pages)

    an = {"stopwords": ["the", "a"], "synonyms": ["fast, quick => rapid"],
          "stemmer": "porter"}
    pages = synth_pages(spark, 150, seed=7)
    d = str(tmp_path / "stem_idx")
    build_index(spark, pages, d, tau=100, n_buckets=4, analyzer=an)
    reader = IndexReader(spark, d)
    assert reader.state.analyzer["stemmer"] == "porter"
    # query text analyzed with the persisted analyzer
    terms = query_terms("the fast merges", reader.state.analyzer)
    assert terms == ["rapid", "merg"]  # porter: merges -> merg
    got = {(r["doc_id"], r["should_hits"]) for r in bool_query(
        spark, reader, should=terms, min_should=1).collect()}
    # brute force over the raw pages with the same python analyzer
    url_by_doc = {r["doc_id"]: r["url"] for r in reader.doc_stats().collect()}
    toks_by_url = {r["url"]: py_tokenize(r["text"], an)
                   for r in pages.select("url", "text").collect()}
    want = set()
    for did, url in url_by_doc.items():
        hits = sum(1 for t in ("rapid", "merg") if t in toks_by_url[url])
        if hits >= 1:
            want.add((did, hits))
    assert got == want and got


def test_complete_suggest_es_tie_rules(spark):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        complete_suggest)

    inputs = spark.createDataFrame(
        [("spark", 5), ("spark", 9), ("spa", 9), ("sql", 2), ("scan", 9),
         ("merge", 100), ("s", 1)],
        "input string, weight int")
    got = [(r["input"], r["weight"], r["rank"]) for r in
           complete_suggest(inputs, "sp", size=3).collect()]
    # dedupe keeps best weight; weight DESC then input ASC
    assert got == [("spa", 9, 1), ("spark", 9, 2)]
    got2 = [r["input"] for r in complete_suggest(inputs, "s", size=4)
            .orderBy("rank").collect()]
    assert got2 == ["scan", "spa", "spark", "sql"]


def test_analyze_explains_tokens_offsets_and_stopword_gaps():
    from elasticsearch_data_import_handler_spark.functions.textanalysis import (
        analyze, py_tokenize)

    an = {"stopwords": ["the"]}
    text = "The Spark THE index"
    got = analyze(text, an)
    assert [t["token"] for t in got] == py_tokenize(text, an)
    # stopword removal leaves position gaps (Lucene StopFilter semantics)
    assert [t["position"] for t in got] == [1, 3]
    # offsets index the ORIGINAL text
    assert [text[t["start_offset"]:t["end_offset"]] for t in got] == \
        ["Spark", "index"]
    assert got[0]["lowercased"] and not got[1]["lowercased"]
    assert analyze(None) == [] and analyze("") == []


def test_asciifolding_char_filter(spark):
    """asciifolding runs as a CHAR filter (pre-tokenization): accented
    chars fold instead of splitting tokens; JVM, Python, and SQL-template
    paths agree; index-vs-query analyzer consistency follows from all
    three sharing the chain."""
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.functions.textanalysis import (
        asciifold, asciifold_sql, jvm_tokens_col, py_tokenize)

    texts = ["Café ÜBER naïve", "straße Œuvre Æon", "łódź ñandú",
             "plain ascii stays", "ÀÉÎÕÜ Ýç"]
    a = {"asciifolding": True}
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    jvm = [r[0] for r in
           df.select(jvm_tokens_col("text", a)).collect()]
    py = [py_tokenize(t, a) for t in texts]
    assert jvm == py
    # unfolded default splits at the accent; folded keeps one token
    assert py_tokenize("café", None) == ["caf"]
    assert py_tokenize("café", a) == ["cafe"]
    # the SQL template is the same transform (Spark SQL side)
    sql = [r[0] for r in df.select(
        F.expr(asciifold_sql("text"))).collect()]
    assert sql == [asciifold(t) for t in texts]
    # and DuckDB runs the identical template
    import duckdb
    con = duckdb.connect()
    for t in texts:
        got = con.execute(
            "SELECT " + asciifold_sql("?::VARCHAR"), [t]).fetchone()[0]
        assert got == asciifold(t)
