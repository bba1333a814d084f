"""mre — a from-scratch, PySpark-native news-article extraction engine.

Capabilities of ``bcampbell/metareadability`` (headline / pubdate / byline
extraction from raw news-article HTML; see SURVEY.md) plus arc90-style main
content extraction, re-expressed as one Arrow kernel (``mapInArrow``) over
Spark DataFrames — never a port (the reference source was not available at
survey time; behavior is specified by SURVEY.md + FIXTURES.md and the
``[PUB:*]`` citations therein).

Layout
------
``mre.schema``      — authoritative StructTypes (pages / extract output)
``mre.core``        — pure-Python extraction stages E1–E15 (no Spark imports)
``mre.pipeline``    — Spark pipeline operators P1–P10 (dedup, salt, extract,
                      lineage, resume, golden diff)
``mre.io``          — source/sink abstraction (parquet in sandbox, Iceberg in
                      prod behind the same call sites)
``mre.fixtures``    — deterministic synthetic corpus (FIXTURES.md spec)
``mre.sources``     — the ``warc:`` source (WARC(.gz) archives → pages)
``mre.textops``     — the operators curation composes: Gopher quality
                      rules, fingerprints, MinHash-LSH + exact Jaccard
                      confirm, clustering, decontamination, hash split
``mre.curate``      — the five curation stages (quality → exact dedup →
                      near-dup → decontaminate → split), run_curate /
                      run_corpus, incremental ingest dedup against a
                      corpus index
``mre.streaming``   — Structured Streaming ingest (dedup vs the index)
"""

__version__ = "0.1.0"

from . import lazyzip as _lazyzip

# every Python worker imports mre when it unpickles an mre kernel, so this
# is where per-task PySpark overhead is trimmed (see mre.lazyzip)
_lazyzip.install()
