"""Seeded benchmark inputs and expected results, cached on disk per seed.

Everything the engine reads is made here from the ``--seed``: the crawl
corpus, the search request stream, the upsert batches and delete query of
the incremental workload, and the star-schema tables of the operator
suite.  The engine receives only these generated inputs.  Expected
results come from the repository's independent oracles (the pure-Python
``BM25Oracle`` and the DuckDB ``oracle_sql()`` text) and are cached next
to the inputs, so checking never runs inside a timed interval twice.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from elasticsearch_data_import_handler_spark.sources.corpus import STOPWORDS

# Sizes.  The search index fits comfortably in memory; single queries are
# dominated by the per-request driver constant, batches by the scorer.
SEARCH_PAGES = 3000
BATCH_QUERIES = 300
N_SINGLES = 48
N_BATCHES = 12
INCR_BASE_PAGES = 3000
UPSERT_UPDATES = 300
UPSERT_NEW = 300
UPSERT_BATCHES = 2
# Request-mix patterns: (terms, of which stopwords, of which no-hit, k).
QUERY_MIX = [(1, 0, 0, 10), (2, 1, 0, 10), (3, 2, 0, 100), (2, 0, 0, 1),
             (1, 0, 1, 10), (3, 0, 0, 10), (2, 0, 1, 100), (1, 0, 0, 100)]
# Expected hits are kept this far past k, for ties at the k-th score.
TIE_DEPTH = 50

_TS_FMT = "%Y-%m-%d %H:%M:%S"


def _atomic_json(path: str, obj) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _load_json(path: str):
    with open(path) as f:
        return json.load(f)


def _zipf_probs(n: int) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -1.1
    return p / p.sum()


def _write_pages(pdf: pd.DataFrame, path: str, n_files: int = 4) -> None:
    """Pages as a small multi-file parquet directory (Spark-readable µs ts)."""
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i in range(n_files):
        pdf.iloc[i::n_files].to_parquet(
            os.path.join(tmp, f"part-{i}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def doc_id(url: str, ts: pd.Timestamp) -> int:
    """The engine's version id: xxhash64(url || '|' || cast(warc_ts as string))."""
    from elasticsearch_data_import_handler_spark.functions.hashing import xxhash64_str

    return xxhash64_str(f"{url}|{ts.strftime(_TS_FMT)}")


def live_docs(pdf: pd.DataFrame) -> dict[str, tuple[int, str]]:
    """url → (doc_id, text) of the latest version per url (latest-wins)."""
    latest = pdf.sort_values(["url", "warc_ts"]).groupby("url", sort=False).tail(1)
    return {u: (doc_id(u, t), x) for u, t, x in
            zip(latest["url"], latest["warc_ts"], latest["text"])}


def _page(url: str, ts: pd.Timestamp, text: str, lang: str) -> tuple:
    from elasticsearch_data_import_handler_spark.functions.textanalysis import extract_text

    html = (f"<html><head><title>{url}</title></head><body>".encode()
            + text.encode() + b"</body></html>")
    return (url, ts, html, extract_text(html), lang)


class Inputs:
    """The seeded inputs of one seed, generated on first use and cached
    under ``<work>/inputs/seed<N>``."""

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(work, "inputs", f"seed{seed}")
        os.makedirs(self.dir, exist_ok=True)
        from elasticsearch_data_import_handler_spark.sources.corpus import build_vocab

        self.vocab = build_vocab(5000)
        # content terms: Zipf over the vocabulary after the stopwords
        self.n_content = len(self.vocab) - len(STOPWORDS)
        self.probs = _zipf_probs(self.n_content)

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    # -------------------------------------------------------------- corpora
    def _corpus(self, name: str, n_pages: int, seed: int) -> str:
        from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages_pdf

        path = self._path(name)
        if not os.path.isdir(path):
            _write_pages(synth_pages_pdf(n_pages, seed=seed), path)
        return path

    def search_corpus(self) -> str:
        return self._corpus("search_pages", SEARCH_PAGES, self.seed)

    def incr_base(self) -> str:
        return self._corpus("incr_base", INCR_BASE_PAGES, self.seed + 1)

    # -------------------------------------------------------------- queries
    def _query(self, rng, pattern: tuple) -> tuple[str, int]:
        """One query of a request-mix pattern: Zipf-drawn content terms,
        stopwords or terms no document contains where the pattern says."""
        n_terms, n_stop, n_miss, k = pattern
        terms = [STOPWORDS[int(i)] for i in rng.choice(len(STOPWORDS), n_stop, replace=False)]
        terms += [f"zq{int(x)}" for x in rng.integers(1 << 30, size=n_miss)]
        n_content = n_terms - n_stop - n_miss
        while n_content > 0:
            t = self.vocab[len(STOPWORDS) + int(rng.choice(self.n_content, p=self.probs))]
            if t not in terms:
                terms.append(t)
                n_content -= 1
        return " ".join(terms), k

    def search_requests(self) -> list[dict]:
        """The request stream.  Single i follows mix pattern i mod 8, so every
        run meets the same sequence of query shapes; each 300-query batch
        holds the patterns in equal shares, shuffled.  Each request is
        {kind, queries: [(qid, text, k)]}."""
        path = self._path("search_requests.json")
        if not os.path.exists(path):
            rng = np.random.default_rng([self.seed, 1])

            def qs(patterns):
                return [(i, *self._query(rng, p)) for i, p in enumerate(patterns)]
            mix = [QUERY_MIX[i % len(QUERY_MIX)] for i in range(BATCH_QUERIES)]
            _atomic_json(path, {
                "single": [{"kind": "single",
                            "queries": qs([QUERY_MIX[i % len(QUERY_MIX)]])}
                           for i in range(N_SINGLES)],
                "batch": [{"kind": "batch",
                           "queries": qs([mix[int(j)] for j in rng.permutation(len(mix))])}
                          for _ in range(N_BATCHES)]})
        return _load_json(path)

    # ---------------------------------------------------------- incremental
    def upsert_batches(self) -> list[str]:
        """Parquet dirs of the upsert batches.  Batch j re-crawls
        UPSERT_UPDATES distinct base urls with a strictly later warc_ts and
        adds UPSERT_NEW new urls."""
        paths = [self._path(f"upsert{j}") for j in range(UPSERT_BATCHES)]
        if all(os.path.isdir(p) for p in paths):
            return paths
        base = pd.read_parquet(self.incr_base())
        urls = np.array(sorted(base["url"].unique()))
        rng = np.random.default_rng([self.seed, 2])
        upd = rng.choice(urls, size=UPSERT_UPDATES * UPSERT_BATCHES, replace=False)
        langs = np.array(["en", "es", "de", "fr", "zh"])
        t_upd = pd.Timestamp("2026-01-05 00:00:00")
        vocab_probs = _zipf_probs(len(self.vocab))
        for j, path in enumerate(paths):
            rows = []
            for i in range(UPSERT_UPDATES + UPSERT_NEW):
                n_tok = int(np.clip(rng.lognormal(np.log(120), 0.6), 5, 2000))
                text = " ".join(self.vocab[int(t)] for t in
                                rng.choice(len(self.vocab), n_tok, p=vocab_probs))
                if i < UPSERT_UPDATES:
                    url = str(upd[j * UPSERT_UPDATES + i])
                else:
                    url = f"https://new{j}.example/p/{i}"
                ts = t_upd + pd.Timedelta(hours=j, seconds=i)
                rows.append(_page(url, ts, text, str(rng.choice(langs))))
            _write_pages(pd.DataFrame(rows, columns=["url", "warc_ts", "html",
                                                     "text", "lang"]), path, 2)
        return paths

    def delete_term(self) -> str:
        """A mid-frequency term (document frequency of a few percent)."""
        rng = np.random.default_rng([self.seed, 3])
        return self.vocab[int(rng.integers(150, 400))]

    def fresh_queries(self) -> list[tuple[int, str, int]]:
        rng = np.random.default_rng([self.seed, 4])
        return [(0, *self._query(rng, p)) for p in QUERY_MIX]

    # -------------------------------------------------------- operator suite
    def suite_dir(self) -> str:
        path = self._path("suite_sf")
        if not os.path.isdir(path):
            tmp = f"{path}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            write_suite_tables(tmp, self.seed)
            os.replace(tmp, path)
        return path

    # ------------------------------------------------------ expected results
    def cached(self, name: str, compute):
        """JSON-cached expected result for this seed."""
        path = self._path(f"expected_{name}.json")
        if os.path.exists(path):
            return _load_json(path)
        val = compute()
        _atomic_json(path, val)
        return val

    def cached_frame(self, name: str, compute) -> pd.DataFrame:
        """Parquet-cached expected result table for this seed."""
        path = self._path(f"expected_{name}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        df = compute()
        tmp = f"{path}.tmp{os.getpid()}"
        df.to_parquet(tmp, index=False)
        os.replace(tmp, path)
        return pd.read_parquet(path)


def oracle_topk(docs: dict[str, tuple[int, str]],
                queries: list[tuple[int, str, int]]) -> dict[str, list]:
    """Expected hits per query id from the independent BM25 oracle, ranked
    TIE_DEPTH past k so a tie at the k-th score can be told from a wrong
    document: {str(qid): [[rank, doc_id, score], ...]}."""
    from tests.oracle.bm25 import BM25Oracle

    oracle = BM25Oracle(list(docs.values()))
    out: dict[str, list] = {}
    for qid, text, k in queries:
        out[str(qid)] = [list(r) for r in oracle.topk(text, k + TIE_DEPTH)]
    return out


# ------------------------------------------------------------------ suite data

_SUITE_VOCAB = ["scan", "column", "window", "order", "sort", "part", "agg",
                "value", "line", "key", "join", "merge", "group", "query",
                "a", "vector", "hash", "slow", "stream", "filter", "fast",
                "the", "batch", "spark", "table", "small", "data", "big",
                "customer", "row"]


def write_suite_tables(out: str, seed: int) -> None:
    """The ten star-schema tables the ``q_*`` entries read, at the size of
    the smallest test scale (500 documents, 6,000 line items)."""
    rng = np.random.default_rng([seed, 5])

    def save(name, cols):
        pd.DataFrame(cols).to_parquet(os.path.join(out, f"{name}.parquet"),
                                      index=False, coerce_timestamps="us",
                                      allow_truncated_timestamps=True)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def dates(lo, hi, n):
        lo_ns = pd.Timestamp(lo).value
        days = rng.integers(0, (pd.Timestamp(hi).value - lo_ns) // 86_400_000_000_000, n)
        return pd.to_datetime(lo_ns + days * 86_400_000_000_000).astype("datetime64[us]")

    save("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n_cust, n_supp, n_part, n_ord, n_li = 150, 10, 200, 1500, 6000
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["cold", "small", "large", "blue", "red", "new", "old", "hot"]
    noun = ["widget", "bolt", "gear", "rod", "ring", "anvil", "plate", "gizmo"]
    save("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2)})
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": dates("1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": dates("1995-01-02", "2001-11-05", n_li)})
    n_ev = 1000
    gaps = rng.exponential(2600.0, n_ev)
    ts = pd.Timestamp("2024-01-01").value // 1000 + np.cumsum(gaps * 1e6).astype(np.int64)
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.to_datetime(ts, unit="us").astype("datetime64[us]"),
        "user_id": rng.integers(0, 15, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev),
        "value": money(0.01, 330.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = 500
    texts = []
    for i in range(n_doc):
        if i % 10 == 7 and i > 10:
            # near-duplicate of an earlier document: a few tokens replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[int(j)] = str(rng.choice(_SUITE_VOCAB))
        else:
            toks = list(rng.choice(_SUITE_VOCAB, int(rng.integers(10, 100))))
        if i % 20 in (0, 5) and toks[-1] != "dup":
            toks.append("dup")
        texts.append(" ".join(toks))
    save("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "es", "de", "fr", "zh"], n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_doc).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    x = rng.normal(0.0, 1.0, (n_doc, 64)) + 1.2 * centers[labels] / np.sqrt(64)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {"vec_id": np.arange(n_doc, dtype=np.int64),
                        "embedding": list(x), "label": labels})
