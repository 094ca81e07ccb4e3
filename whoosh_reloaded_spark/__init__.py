"""whoosh_reloaded_spark — a PySpark-native full-text index + BM25 query engine.

A from-scratch rebuild of the *capabilities* of Sygil-Dev/whoosh-reloaded
(reference at /root/reference, v3.0.0) on top of the Spark DataFrame engine:

- tokenization: Whoosh StandardAnalyzer semantics (RegexTokenizer |
  LowercaseFilter | StopFilter) as one self-contained Python loop
  (ref: src/whoosh/analysis/{tokenizers,filters,analyzers}.py)
- index build: one DataFrame job — an Arrow-batched ``mapInArrow`` pass
  tokenizes and inverts each doc into flat posting rows → term-range
  shuffle → posting/docmeta/term_stats tables written as term-sorted
  Parquet
  (ref build path: src/whoosh/writing.py:748-822, codec/whoosh3.py)
- query: boolean combinators as joins/aggregations on docid, BM25F scoring as
  a single vectorized column expression, top-k via
  orderBy(desc(score), asc(docid)).limit(k)
  (ref: src/whoosh/{matching,query,scoring,collectors}.py)

This is NOT a port: the reference's pull-based single-threaded matcher tree is
replaced by declarative DataFrame plans optimized by Catalyst.
"""

__version__ = "0.1.0"

from whoosh_reloaded_spark.analysis import (  # noqa: F401
    STOP_WORDS,
    StandardAnalyzer,
    standard_tokens,
)
from whoosh_reloaded_spark.index import (  # noqa: F401
    InvertedIndex,
    build_index,
    load_index,
    save_index,
)
from whoosh_reloaded_spark.query import Searcher  # noqa: F401
from whoosh_reloaded_spark.query.parser import (  # noqa: F401
    DisMaxParser,
    MultifieldParser,
    QueryParser,
    SimpleParser,
)
