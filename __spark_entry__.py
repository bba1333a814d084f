"""Oracle registry for mre's operators.

``queries()`` maps a name to a Spark query that runs an mre operator over
the TPC-H-style test tables (``MRE_ORACLE_SF``, TESTDATA.md);
``oracle_sql()`` maps the same names to a DuckDB query computing the
expected rows independently (aliases match column-for-column): direct SQL
where expressible, and golden parquets for the hash-dependent ops — the
extraction flagship from the doc_id-keyed fixture spec (mre/fixtures.py),
MinHash pairs and the lineage rollup from the independent replay layer
(mre/oracle_replay.py: from-scratch XXH64 + Spark-variant murmur3_32,
verified against the engine's own hash fns).

``tests/test_entry_oracle.py`` runs every pair; ``perfbench/checks.py``
runs the ``curation_pipeline`` SQL as the corpus workload's check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def _prep(spark: SparkSession) -> None:
    # deterministic timestamps regardless of the driver's session defaults
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # keep the driver's session on the same optimizer profile as
    # mre.io.get_spark: InferFiltersFromGenerate duplicates every
    # explode's generator expression into an interpreted pushed-down
    # filter (16x measured slowdown on the n-gram explodes; semantics
    # unchanged — all generate inputs carry explicit size filters)
    spark.conf.set("spark.sql.optimizer.excludedRules",
                   "org.apache.spark.sql.catalyst.optimizer."
                   "InferFiltersFromGenerate")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship: documents → synthetic pages → extraction pipeline


def _pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pages table keyed by doc_id (FIXTURES.md templates).
    html rendering happens distributed, inside mapInPandas — no driver
    loop, no collect."""
    from mre.schema import PAGES_SCHEMA

    def render(batches):
        from mre import fixtures as FX
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            yield pd.DataFrame({
                "url": [FX.url_of(i) for i in ids],
                "warc_ts": [FX.warc_ts_of(i) for i in ids],
                "html": [FX.html_bytes_of(i) for i in ids],
                "text": [None] * len(ids),
                "lang": [FX.lang_of(i) for i in ids],
            })

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.repartition(max(spark.sparkContext.defaultParallelism, 4)) \
        .mapInPandas(render, PAGES_SCHEMA)


def q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mre.pipeline import run_extract_df
    _prep(spark)
    pages = _pages_from_documents(spark, sf_dir)
    out = run_extract_df(pages, buckets=32)
    # authors is ArrayType in the pipeline (EXTRACT_SCHEMA); the driver's
    # pandas canonicalizer can't sort list cells, so the DRIVER-FACING
    # projection joins it to a unit-separated scalar (null stays null —
    # extract_one emits `authors or None`, never []). The oracle joins the
    # golden parquet's list column with the same separator.
    return out.select("url", "headline", "pubdate",
                      F.array_join("authors", chr(31)).alias("authors"),
                      "extracted_text")


# --------------------------------------------------------------------------
# training-data ops (mre.textops) over documents


def q_lang_id(spark, sf_dir):
    """Per-doc marker scores and the prediction, through the same
    ``lang_pred_expr`` column the extract→curate adapter projects."""
    from mre.textops import lang_pred_expr, lang_scores_exprs
    _prep(spark)
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        *[c.alias(f"score_{l}") for l, c in lang_scores_exprs().items()],
        lang_pred_expr().alias("pred_lang"))


def q_fingerprint(spark, sf_dir):
    from mre.textops import fingerprint
    _prep(spark)
    return fingerprint(_t(spark, sf_dir, "documents"))


def q_exact_dedup(spark, sf_dir):
    """Curation's exact-dedup stage: the keeper (min doc_id) of every
    content-fingerprint group."""
    from mre.curate import exact_keeper_ids
    _prep(spark)
    return exact_keeper_ids(_t(spark, sf_dir, "documents"))


def q_minhash_near_dups(spark, sf_dir):
    from mre.textops import minhash_near_dups
    _prep(spark)
    return minhash_near_dups(_t(spark, sf_dir, "documents"), threshold=0.2)


def q_lsh_jaccard_verify(spark, sf_dir):
    """Scale-shaped exact verification: LSH (MinHash banding) proposes the
    candidate pairs, exact n-gram Jaccard confirms each — the
    verify-candidates-then-confirm pattern a 10^12-doc dedup runs, with no
    corpus-wide inverted-index self-join anywhere in the plan."""
    from mre.textops import jaccard_on_candidates, minhash_near_dups
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    cands = minhash_near_dups(docs, threshold=0.2).select("doc_a", "doc_b")
    return jaccard_on_candidates(cands, docs, n=3)


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: word 5-gram overlap of every corpus doc
    against a small eval set (deterministically drawn as every 97th doc),
    broadcast-joined so the corpus never shuffles."""
    from mre.textops import benchmark_contamination
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    evals = (docs.filter(F.col("doc_id") % 97 == 0)
             .select(F.col("doc_id").alias("eval_id"), "text"))
    return benchmark_contamination(docs, evals, n=5)


def q_dup_clusters(spark, sf_dir):
    """pairs → groups: connected components (min-label propagation with
    pointer jumping) over the MinHash near-dup pairs. The step that turns
    a near-dup PAIR list into per-document cluster ids a dedup keeper
    policy can act on."""
    from mre.textops import dup_clusters, minhash_near_dups
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dups(docs, threshold=0.2).select("doc_a", "doc_b")
    return dup_clusters(pairs)


def q_gopher_quality(spark, sf_dir):
    """The Gopher rule filter: each rule's pass flag and the 5-rule
    ``keep`` composite, the curation pipeline's stage-1 contract."""
    from mre.textops import gopher_quality
    _prep(spark)
    return gopher_quality(_t(spark, sf_dir, "documents"))


def q_ingest_dedup(spark, sf_dir):
    """The INCREMENTAL-INGEST commit protocol end-to-end (VERDICT r5 #3):
    the even-doc_id half of the corpus is indexed (build_dedup_index →
    fingerprints + signatures + pre-banded LSH rows in a temp dir), the
    batch is the odd half plus planted exact copies of every
    doc_id%10==0 corpus doc (re-keyed +10_000_000), and the rows are the
    accepted docs ``ingest_epoch`` — the code ``run_ingest.py ingest``
    and the stream run — commits to its accepted table. So the oracle
    value-checks within-batch exact keep-min, the fingerprint-anti-join
    vs the index, the batch-vs-corpus banded estimator (threshold 0.2 =
    the replay golden's), the cluster-min within-batch pass and the
    accepted-table write, all against DuckDB (golden pairs restricted by
    endpoint parity + a recursive-CTE component replay —
    signatures/bands/est are per-doc/per-pair pure, so full-corpus
    golden pairs restricted to cross/batch endpoints ARE the ingest
    candidates)."""
    import tempfile
    from mre.curate import build_dedup_index
    from mre.io import read_table
    from mre.streaming import ingest_epoch
    _prep(spark)
    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    planted = (corpus.filter(F.col("doc_id") % 10 == 0)
               .withColumn("doc_id", F.col("doc_id") + 10000000))
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(planted)
    base = tempfile.mkdtemp(prefix="mre_ingest_q_")
    build_dedup_index(spark, corpus, f"{base}/index")
    ingest_epoch(spark, batch, 0, f"{base}/index", f"{base}/accepted",
                 threshold=0.2)
    return read_table(spark, f"{base}/accepted").select("doc_id", "lang",
                                                        "n_chars")


def q_hash_split(spark, sf_dir):
    """Deterministic 90/10 train/test split by content hash; returns the
    per-(split, lang) counts so the whole assignment is value-checked."""
    from mre.textops import hash_split
    _prep(spark)
    return (hash_split(_t(spark, sf_dir, "documents"), "text", 0.9)
            .groupBy("split", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("min_doc_id")))


def q_lineage_rollup(spark, sf_dir):
    """P7+P8+P9 end-to-end, driver-checkable: write the synthetic pages,
    run the full run_extract (salt → shuffle → extract → dynamic-overwrite
    sink → lineage append) into a fresh temp dir, return the deterministic
    lineage columns (wall_ms/completed_at dropped). partition_id ==
    salt_bucket is part of the contract (salt == HashPartitioning)."""
    import tempfile
    from mre.io import read_table
    from mre.pipeline import run_extract
    _prep(spark)
    base = tempfile.mkdtemp(prefix="mre_lineage_q_")
    _pages_from_documents(spark, sf_dir).write.parquet(f"{base}/pages")
    run_extract(spark, f"{base}/pages", f"{base}/out", f"{base}/lineage",
                run_id="driver_check", buckets=32)
    return read_table(spark, f"{base}/lineage").select(
        "run_id", "partition_id", "salt_bucket",
        "n_rows", "n_ok", "n_failed", "bytes_html")


def q_curation_pipeline(spark, sf_dir):
    """The composed curation pipeline (VERDICT r3 #2) as ONE driver row:
    ``run_curate``, the job every CLI and the corpus workload run, into
    a fresh temp dir — Gopher quality filter → exact dedup → MinHash-LSH
    candidates → exact-Jaccard confirm (≥0.5) → connected-component
    clustering → keep-one-per-cluster → 5-gram decontamination vs the
    every-97th-doc eval set → deterministic 90/10 hash split. Returns
    each surviving doc's (doc_id, lang, split) read back with
    ``read_curated``.

    The composition oracle replays every stage in SQL: quality + dedup +
    confirm + clustering + contamination are plain DuckDB over the same
    view; the MinHash candidate stage comes from the independent replay
    golden restricted to surviving endpoints — valid because signatures,
    band hashes, and est_jaccard are pure per-doc/per-pair functions
    (max_bucket=None), so candidates over a filtered corpus ARE the
    full-corpus candidates with both endpoints surviving."""
    import tempfile
    from mre.curate import read_curated, run_curate
    _prep(spark)
    base = tempfile.mkdtemp(prefix="mre_curate_q_")
    docs = _t(spark, sf_dir, "documents")
    (docs.filter(F.col("doc_id") % 97 == 0)
     .select(F.col("doc_id").alias("eval_id"), "text")
     .write.parquet(f"{base}/evals"))
    run_curate(spark, docs, f"{base}/out", f"{base}/lineage",
               run_id="oracle_check", evals_src=f"{base}/evals",
               shingle_n=3, minhash_threshold=0.2, jaccard_threshold=0.5,
               contamination_n=5, contamination_min_shared=1,
               train_frac=0.9)
    return read_curated(spark, f"{base}/out").select("doc_id", "lang",
                                                     "split")


# --------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_flagship": q_extract,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "exact_dedup": q_exact_dedup,
        "lsh_jaccard_verify": q_lsh_jaccard_verify,
        "minhash_near_dups": q_minhash_near_dups,
        "dup_clusters": q_dup_clusters,
        "contamination": q_contamination,
        "lineage_rollup": q_lineage_rollup,
        "ingest_dedup": q_ingest_dedup,
        "hash_split": q_hash_split,
        "gopher_quality": q_gopher_quality,
        "curation_pipeline": q_curation_pipeline,
    }


def oracle_sql() -> dict[str, str]:
    # Flagship oracle: the golden extraction table is a pure function of
    # doc_id (mre/fixtures.py golden_row — same spec the 300-doc pytest
    # sweep checks byte-for-byte), materialized as a doc_id-keyed parquet
    # DuckDB reads directly and restricts to the sf's documents view.
    from mre.fixtures import write_oracle_golden
    golden = write_oracle_golden(
        os.path.join(_REPO, "dist", "extract_oracle_golden_v3_n5000.parquet"))
    # MinHash is deterministic given its fixed params;
    # mre/oracle_replay.py recomputes the expected pairs independently
    # (from-scratch XXH64 + algorithm replay, no Spark) into per-corpus
    # golden parquets keyed by sum(length(text)) — the sf tables differ in
    # content, so the SQL picks its corpus at runtime from the view.
    from mre.oracle_replay import write_dedup_goldens, write_lineage_golden
    dedup = write_dedup_goldens(os.path.join(_REPO, "dist", "dedup_goldens"))
    lineage_golden = write_lineage_golden(
        os.path.join(_REPO, "dist", "lineage_golden.parquet"))
    _CK = "(SELECT CAST(sum(length(text)) AS BIGINT) FROM documents)"
    # Loud coverage guard (ADVICE r2): a corpus the goldens were never
    # computed for must ERROR, not silently match zero expected rows —
    # zero golden pairs for a covered corpus is a legitimate result, so
    # coverage is probed from the dedicated coverage parquet (dedup) /
    # the golden itself (lineage always has >=1 row per covered corpus).
    _COV = (f"(SELECT CASE WHEN {_CK} IN (SELECT corpus_key FROM "
            f"read_parquet('{dedup['coverage']}')) THEN 1 ELSE error("
            f"'corpus not covered by dedup goldens; set MRE_ORACLE_SF to "
            f"this sf dir and remove dist/dedup_goldens to materialize') "
            f"END)")
    _LCOV = (f"(SELECT CASE WHEN (SELECT count(*) FROM documents) IN "
             f"(SELECT n_corpus FROM read_parquet('{lineage_golden}')) "
             f"THEN 1 ELSE error('corpus not covered by lineage golden; "
             f"remove dist/lineage_golden.parquet to re-derive from the "
             f"testdata layout') END)")

    # The probe must be GUARANTEED-EXECUTED (ADVICE r3): embedded in a row
    # filter it never evaluates when the scanned golden has zero rows
    # total — exactly the silent-pass mode it exists to prevent. Appending
    # a FROM-less UNION ALL branch makes DuckDB evaluate the CASE exactly
    # once regardless of the main branch's row count: covered ⇒ the
    # WHERE is 1 != 1 ⇒ zero extra rows (hashes unchanged); uncovered ⇒
    # error() raises. NULLs are cast to the main branch's exact types so
    # union type-unification can't silently widen the schema.
    def _cov_probe(cov_expr: str, *types: str) -> str:
        nulls = ", ".join(f"CAST(NULL AS {t})" for t in types)
        return f"\n            UNION ALL SELECT {nulls} WHERE 1 != {cov_expr}"

    _P2 = _cov_probe(_COV, "BIGINT", "BIGINT")
    _P3D = _cov_probe(_COV, "BIGINT", "BIGINT", "DOUBLE")
    _P3I = _cov_probe(_COV, "BIGINT", "VARCHAR", "BIGINT")
    _PCUR = _cov_probe(_COV, "BIGINT", "VARCHAR", "VARCHAR")
    _PLIN = _cov_probe(_LCOV, "VARCHAR", "BIGINT", "BIGINT", "BIGINT",
                       "BIGINT", "BIGINT", "BIGINT")
    extract_oracle = f"""
            SELECT g.url, g.headline, g.pubdate,
                   array_to_string(g.authors, chr(31)) AS authors,
                   g.extracted_text
            FROM read_parquet('{golden}') g
            JOIN (SELECT DISTINCT doc_id FROM documents) d
              ON g.doc_id = d.doc_id
        """
    return {
        "extract_flagship": extract_oracle,
        "minhash_near_dups": f"""
            SELECT doc_a, doc_b, est_jaccard
            FROM read_parquet('{dedup["minhash_near_dups"]}')
            WHERE corpus_key = {_CK}{_P3D}
        """,
        # composition oracle (VERDICT r2 #1): candidate pairs come from the
        # independent MinHash replay golden; the exact Jaccard over those
        # pairs is plain SQL (the word 3-gram shingle CTE). LEFT JOIN
        # keeps zero-overlap candidates at jaccard 0.0, like the engine.
        "lsh_jaccard_verify": rf"""
            WITH cand AS (
                SELECT doc_a, doc_b
                FROM read_parquet('{dedup["minhash_near_dups"]}')
                WHERE corpus_key = {_CK}),
            toks AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS t
                FROM documents),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])))
                           AS shingle
                FROM toks WHERE len(t) >= 3),
            sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
                SELECT c.doc_a, c.doc_b, count(b.shingle) AS n_inter
                FROM cand c
                JOIN sh a ON a.doc_id = c.doc_a
                LEFT JOIN sh b
                  ON b.doc_id = c.doc_b AND b.shingle = a.shingle
                GROUP BY 1, 2)
            SELECT i.doc_a, i.doc_b,
                   round(i.n_inter
                         / (sa.n_sh + sb.n_sh - i.n_inter), 4) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b{_P3D}
        """,
        # connected components via recursive CTE over the replay golden:
        # min reachable doc_id per node == min-label-propagation fixpoint
        "dup_clusters": f"""
            WITH RECURSIVE cand AS (
                SELECT doc_a, doc_b
                FROM read_parquet('{dedup["minhash_near_dups"]}')
                WHERE corpus_key = {_CK}),
            edges AS (
                SELECT doc_a AS a, doc_b AS b FROM cand
                UNION SELECT doc_b, doc_a FROM cand),
            reach(node, label) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.label FROM edges e JOIN reach r
                  ON r.node = e.b)
            SELECT node AS doc_id, min(label) AS cluster_id
            FROM reach GROUP BY node{_P2}
        """,
        "contamination": r"""
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS t
                FROM documents),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, len(t) - 3),
                           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                                || ' ' || t[i + 3] || ' ' || t[i + 4])))
                           AS shingle
                FROM toks WHERE len(t) >= 5),
            ev AS (
                SELECT doc_id AS eval_id, shingle FROM sh
                WHERE doc_id % 97 = 0)
            SELECT s.doc_id, e.eval_id, count(*) AS n_shared
            FROM sh s JOIN ev e ON s.shingle = e.shingle
            GROUP BY 1, 2
        """,
        # composition oracle for the end-to-end curation pipeline: every
        # stage replayed in plain SQL; the MinHash candidate stage comes
        # from the full-corpus replay golden restricted to surviving
        # endpoints (valid: signatures/bands/est_jaccard are pure
        # per-doc/per-pair functions — see q_curation_pipeline)
        "curation_pipeline": rf"""
            WITH RECURSIVE t AS (
                SELECT doc_id, text,
                       regexp_split_to_array(lower(trim(text)), '\s+')
                           AS toks,
                       length(regexp_replace(lower(trim(text)),
                           '\s+', '', 'g')) AS n_ns
                FROM documents),
            m AS (
                SELECT doc_id, n_ns, len(toks) AS n_words,
                       greatest(len(toks), 1) AS n1,
                       len(list_filter(toks, x -> regexp_matches(x,
                           '[a-z]'))) AS n_alpha,
                       len(list_filter(toks, x -> x IN ('the', 'be',
                           'to', 'of', 'and', 'that', 'have', 'with')))
                           AS n_stop,
                       len(regexp_extract_all(text,
                           '[#…•=+*^~|<>{{}}\\\\]')) AS n_sym
                FROM t),
            keepq AS (
                SELECT doc_id FROM m
                WHERE n_words BETWEEN 50 AND 100000
                  AND n_ns / n1 BETWEEN 3.0 AND 10.0
                  AND n_sym / n1 <= 0.1
                  AND n_alpha / n1 >= 0.8
                  AND n_stop >= 2),
            keepers AS (
                SELECT min(d.doc_id) AS doc_id
                FROM documents d JOIN keepq USING (doc_id)
                GROUP BY md5(lower(trim(d.text)))),
            cand AS (
                SELECT doc_a, doc_b
                FROM read_parquet('{dedup["minhash_near_dups"]}')
                WHERE corpus_key = {_CK}
                  AND doc_a IN (SELECT doc_id FROM keepers)
                  AND doc_b IN (SELECT doc_id FROM keepers)),
            ksh AS (
                SELECT t.doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, len(t.toks) - 1),
                           i -> t.toks[i] || ' ' || t.toks[i + 1]
                                || ' ' || t.toks[i + 2]))) AS shingle
                FROM t JOIN keepers k ON t.doc_id = k.doc_id
                WHERE len(t.toks) >= 3),
            sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM ksh GROUP BY doc_id),
            inter AS (
                SELECT c.doc_a, c.doc_b, count(b.shingle) AS n_inter
                FROM cand c
                JOIN ksh a ON a.doc_id = c.doc_a
                LEFT JOIN ksh b
                  ON b.doc_id = c.doc_b AND b.shingle = a.shingle
                GROUP BY 1, 2),
            pairs AS (
                SELECT i.doc_a, i.doc_b
                FROM inter i
                JOIN sizes sa ON sa.doc_id = i.doc_a
                JOIN sizes sb ON sb.doc_id = i.doc_b
                WHERE round(i.n_inter
                            / (sa.n_sh + sb.n_sh - i.n_inter), 4) >= 0.5),
            edges AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
            reach(node, label) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.label FROM edges e JOIN reach r
                  ON r.node = e.b),
            losers AS (
                SELECT node AS doc_id FROM reach GROUP BY node
                HAVING min(label) <> node),
            keepnd AS (
                SELECT doc_id FROM keepers
                WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
            ev5 AS (
                SELECT doc_id AS eval_id,
                       unnest(list_distinct(list_transform(
                           range(1, len(toks) - 3),
                           i -> toks[i] || ' ' || toks[i + 1] || ' '
                                || toks[i + 2] || ' ' || toks[i + 3]
                                || ' ' || toks[i + 4]))) AS shingle
                FROM t WHERE doc_id % 97 = 0 AND len(toks) >= 5),
            c5 AS (
                SELECT t.doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, len(t.toks) - 3),
                           i -> t.toks[i] || ' ' || t.toks[i + 1] || ' '
                                || t.toks[i + 2] || ' ' || t.toks[i + 3]
                                || ' ' || t.toks[i + 4]))) AS shingle
                FROM t JOIN keepnd k ON t.doc_id = k.doc_id
                WHERE len(t.toks) >= 5),
            contam AS (
                SELECT DISTINCT c.doc_id
                FROM c5 c JOIN ev5 e ON c.shingle = e.shingle),
            final_ids AS (
                SELECT doc_id FROM keepnd
                WHERE doc_id NOT IN (SELECT doc_id FROM contam))
            SELECT d.doc_id, d.lang,
                   CASE WHEN CAST(('0x' || substring(md5(d.text), 1, 4))
                                  AS INTEGER)
                             < CAST(FLOOR(0.9 * 65536) AS INTEGER)
                        THEN 'train' ELSE 'test' END AS split
            FROM documents d JOIN final_ids f ON d.doc_id = f.doc_id{_PCUR}
        """,
        "lineage_rollup": f"""
            SELECT run_id, partition_id, salt_bucket,
                   n_rows, n_ok, n_failed, bytes_html
            FROM read_parquet('{lineage_golden}')
            WHERE n_corpus = (SELECT count(*) FROM documents){_PLIN}
        """,
        "hash_split": """
            SELECT CASE WHEN CAST(('0x' || substring(md5(text), 1, 4))
                             AS INTEGER) < CAST(FLOOR(0.9 * 65536) AS INTEGER)
                        THEN 'train' ELSE 'test' END AS split,
                   lang, count(*) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS min_doc_id
            FROM documents GROUP BY 1, 2
        """,
        # ingest_dedup replays the ingest dedup stage by stage: within-batch
        # exact keep-min + fingerprint-anti vs the indexed (even) half in
        # plain SQL; the banded estimator stage comes from the MinHash
        # replay golden restricted by endpoint parity (signatures, band
        # hashes, est are per-doc/per-pair pure and the ingest threshold
        # 0.2 equals the golden's, so full-corpus pairs with one even
        # endpoint ARE the batch-vs-index hits, and odd-odd pairs among
        # survivors ARE the within-batch pairs); cluster-min resolves via
        # the same recursive CTE as dup_clusters.
        "ingest_dedup": f"""
            WITH RECURSIVE batch AS (
                SELECT doc_id, text, lang, n_chars FROM documents
                WHERE doc_id % 2 = 1
                UNION ALL
                SELECT doc_id + 10000000, text, lang, n_chars
                FROM documents WHERE doc_id % 10 = 0),
            keepmin AS (
                SELECT min(doc_id) AS doc_id FROM batch
                GROUP BY md5(lower(trim(text)))),
            b2 AS (
                SELECT b.doc_id, b.lang, b.n_chars,
                       md5(lower(trim(b.text))) AS f
                FROM batch b JOIN keepmin USING (doc_id)),
            b2x AS (
                SELECT doc_id, lang, n_chars FROM b2
                WHERE f NOT IN (SELECT md5(lower(trim(text)))
                                FROM documents WHERE doc_id % 2 = 0)),
            cand AS (
                SELECT doc_a, doc_b
                FROM read_parquet('{dedup["minhash_near_dups"]}')
                WHERE corpus_key = {_CK}),
            b3 AS (
                SELECT doc_id, lang, n_chars FROM b2x
                WHERE NOT EXISTS (
                    SELECT 1 FROM cand c
                    WHERE (c.doc_a = b2x.doc_id AND c.doc_b % 2 = 0)
                       OR (c.doc_b = b2x.doc_id AND c.doc_a % 2 = 0))),
            bpair AS (
                SELECT c.doc_a, c.doc_b FROM cand c
                JOIN b3 x ON x.doc_id = c.doc_a
                JOIN b3 y ON y.doc_id = c.doc_b),
            edges AS (
                SELECT doc_a AS a, doc_b AS b FROM bpair
                UNION SELECT doc_b, doc_a FROM bpair),
            reach(node, label) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.label FROM edges e JOIN reach r
                  ON r.node = e.b),
            losers AS (
                SELECT node AS doc_id FROM reach
                GROUP BY node HAVING node <> min(label))
            SELECT doc_id, lang, n_chars FROM b3
            WHERE doc_id NOT IN (SELECT doc_id FROM losers){_P3I}
        """,
        "lang_id": r"""
            WITH s AS (
                SELECT doc_id,
                    len(regexp_extract_all(lower(text),
                        '\b(the|and|of|is|a)\b')) AS score_en,
                    len(regexp_extract_all(lower(text),
                        '\b(le|la|les|et|des)\b')) AS score_fr,
                    len(regexp_extract_all(lower(text),
                        '\b(el|los|las|una|y)\b')) AS score_es,
                    len(regexp_extract_all(lower(text),
                        '\b(der|die|und|das|nicht)\b')) AS score_de,
                    len(regexp_extract_all(text, '[一-鿿]')) AS score_zh
                FROM documents)
            SELECT doc_id, score_en, score_fr, score_es, score_de, score_zh,
                   CASE WHEN greatest(score_en, score_fr, score_es,
                                      score_de, score_zh) = 0 THEN 'und'
                        WHEN score_en = greatest(score_en, score_fr,
                            score_es, score_de, score_zh) THEN 'en'
                        WHEN score_fr = greatest(score_en, score_fr,
                            score_es, score_de, score_zh) THEN 'fr'
                        WHEN score_es = greatest(score_en, score_fr,
                            score_es, score_de, score_zh) THEN 'es'
                        WHEN score_de = greatest(score_en, score_fr,
                            score_es, score_de, score_zh) THEN 'de'
                        ELSE 'zh' END AS pred_lang
            FROM s
        """,
        "fingerprint": """
            SELECT doc_id, md5(lower(trim(text))) AS fingerprint
            FROM documents
        """,
        "exact_dedup": """
            SELECT min(doc_id) AS doc_id
            FROM documents GROUP BY md5(lower(trim(text)))
        """,
        "gopher_quality": r"""
            WITH t AS (
                SELECT doc_id, text,
                       regexp_split_to_array(lower(trim(text)), '\s+')
                           AS toks,
                       length(regexp_replace(lower(trim(text)),
                           '\s+', '', 'g')) AS n_ns
                FROM documents),
            m AS (
                SELECT doc_id, text, n_ns,
                       len(toks) AS n_words,
                       greatest(len(toks), 1) AS n1,
                       len(list_filter(toks, t -> regexp_matches(t,
                           '[a-z]'))) AS n_alpha,
                       len(list_filter(toks, t -> t IN ('the', 'be', 'to',
                           'of', 'and', 'that', 'have', 'with')))
                           AS n_stop,
                       len(regexp_extract_all(text,
                           '[#…•=+*^~|<>{}\\\\]')) AS n_sym
                FROM t)
            SELECT m.doc_id, n_words,
                   round(n_ns / n1, 4) AS mean_word_len,
                   (n_words >= 50 AND n_words <= 100000)::INT
                       AS pass_word_count,
                   (n_ns / n1 >= 3.0 AND n_ns / n1 <= 10.0)::INT
                       AS pass_mean_word_len,
                   (n_sym / n1 <= 0.1)::INT AS pass_symbol_ratio,
                   (n_alpha / n1 >= 0.8)::INT AS pass_alpha_fraction,
                   (n_stop >= 2)::INT AS pass_stopwords,
                   ((n_words >= 50 AND n_words <= 100000)
                    AND (n_ns / n1 >= 3.0 AND n_ns / n1 <= 10.0)
                    AND (n_sym / n1 <= 0.1)
                    AND (n_alpha / n1 >= 0.8)
                    AND (n_stop >= 2))::INT AS keep
            FROM m
        """,
        # Every queries() entry has an oracle above — the hash-dependent
        # ones (extract_flagship, minhash, lineage_rollup)
        # via golden parquets from mre/fixtures.py + mre/oracle_replay.py;
        # everything else as direct DuckDB SQL.
    }
