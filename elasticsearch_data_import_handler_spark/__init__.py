"""PySpark-native full-text index + BM25 query engine.

A brand-new engine with the query / data-processing capabilities of
``kohesive/elasticsearch-data-import-handler`` (see SURVEY.md), re-expressed
Spark-first: instead of pushing rows to Elasticsearch and letting ES build the
search index, this engine builds the inverted index itself —

- SPIMI-style posting-list construction over a Common-Crawl-shaped corpus
  (``url, warc_ts, html, text, lang``),
- delta + varbyte compressed posting lists with per-block max-score metadata,
- BM25 (k1=1.2, b=0.75) top-k with block-max WAND pruning,
- snapshot-based incremental indexing with per-partition lineage manifests,
- explicit skew handling (salted stopword postings),

plus the training-data-pipeline operators a 100 TB corpus needs (exact /
MinHash-LSH / SimHash / n-gram-Jaccard / embedding near-dup dedup, ANN
similarity search, language-ID, quality scoring, token counting,
fingerprinting, multimodal column plumbing).

Reference capability map: SURVEY.md §2A (A1–A10 orchestration semantics,
reconstructed from the upstream repo — /root/reference was empty at survey
time) and §2C (C1–C14 native operators).
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
BLOCK_SIZE = 128  # postings per block for block-max metadata

# without this, every Python task re-reads pyspark.zip; see zipcache
from . import zipcache  # noqa: E402

zipcache.install()
