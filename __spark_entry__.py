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
# crawl bookkeeping (mre.sources.cdx, mre.linkgraph) over the test tables


def _robots_fixture(d) -> "DataFrame":
    """(host, robots_txt) fixture for the example-{0..19}.com hosts —
    built in the executors from the arithmetic builder
    (mre/linkgraph.py robots_txt_of); shared by the url_dedup
    op='robots' gate and the full_outer op='plan' scheduler."""
    from mre.linkgraph import robots_txt_of

    def _rb(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "host": [f"example-{int(h)}.com" for h in pdf["hid"]],
                "robots_txt": [robots_txt_of(int(h))
                               for h in pdf["hid"]]})

    return (d.select((F.col("doc_id") % 20).alias("hid")).distinct()
            .mapInPandas(_rb, "host string, robots_txt string"))


def _cdx_fixture(spark, sf_dir) -> str:
    """Deterministic CDXJ snapshot pair derived from the documents
    table (IF-guarded fixture writer, §7.4 rule 20 — written once per
    corpus size, then reused): url = https://WWW.Example-{d%20}.com/
    Articles/{d} (mixed case + www so SURT canonicalization is
    observable), ts = 20240101000000+d; OLD side = docs with d%4 != 1
    (d%7==0 gets a SECOND capture an 'hour' later, same digest — the
    latest-capture reduction is observable in old_ts/n_captures); NEW
    side = d%4 != 2, an 'hour' later still, digest changed to
    md5(text||'v2') on d%5==2. The bounded collect here is fixture
    GENERATION at test scale (the write_oracle_golden class), not an
    operator."""
    import os as _os
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    root = os.path.join(_REPO, "dist", f"cdx_fixture_n{n}")
    marker = os.path.join(root, "_DONE")
    if not os.path.exists(marker):
        from mre.sources.cdx import format_cdxj_line, write_cdxj_gz
        rows = docs.select(
            "doc_id", F.md5("text").alias("dg"),
            F.md5(F.concat(F.col("text"), F.lit("v2"))).alias("dg2")
        ).collect()
        old: dict = {0: [], 1: []}
        new: dict = {0: [], 1: []}
        for r in rows:
            d = int(r["doc_id"])
            url = f"https://WWW.Example-{d % 20}.com/Articles/{d}"
            ts = str(20240101000000 + d)
            if d % 4 != 1:
                old[d % 2].append(
                    format_cdxj_line(url, ts, r["dg"], length=d))
                if d % 7 == 0:
                    old[d % 2].append(format_cdxj_line(
                        url, str(20240101000000 + d + 100000),
                        r["dg"], length=d))
            if d % 4 != 2:
                dg = r["dg2"] if d % 5 == 2 else r["dg"]
                new[d % 2].append(format_cdxj_line(
                    url, str(20240101000000 + d + 200000), dg,
                    length=d))
        for side, shards in (("old", old), ("new", new)):
            for i, lines in shards.items():
                write_cdxj_gz(lines, _os.path.join(
                    root, side, f"part{i}.cdxj.gz"))
        with open(marker, "w") as f:
            f.write(str(n))
    return root


def q_full_outer(spark, sf_dir):
    """Full-outer semantics as one tagged union (registry-window rule).
    Shared schema (op, doc_id, n_docs, n_events):

    * op='fo' — the original documents⟗events rollup join.
    * op='delta' (round 7) — re-crawl CAPTURE-INDEX delta over the CDX
      source family: two deterministic CDXJ(.gz) snapshot shards are
      read through the REAL `cdx:` path (binaryFile → line parse →
      SURT urlkeys), reduced to the latest capture per urlkey (max_by)
      and full-outer diffed (mre/sources/cdx.py capture_delta).
      n_docs = status code (0 unchanged / 1 changed / 2 added /
      3 gone), n_events = capture rows across both sides — so SURT,
      the gzip shard parse, the latest-capture reduction and the
      digest diff are all value-checked against the oracle's
      arithmetic twin.
    * op='plan' (round 7) — the re-crawl COMPOSITION: the delta's
      added+changed urls (lowercased — robots prefix matching is
      case-sensitive, so the fetcher canonicalizes) run through
      ``fetch_plan`` against the shared robots fixture: robots-blocked
      urls drop, each host's queue ranks in url order, start_ms =
      (rank-1)·Crawl-delay. n_docs = rank, n_events = start_ms —
      allow/deny, delay extraction and the per-host schedule are all
      value-checked."""
    _prep(spark)
    d = (_t(spark, sf_dir, "documents")
         .groupBy("doc_id").agg(F.count("*").alias("n_docs")))
    ev = (_t(spark, sf_dir, "events")
          .groupBy(F.col("user_id").alias("doc_id"))
          .agg(F.count("*").alias("n_events")))
    fo = (d.join(ev, "doc_id", "full_outer")
          .select(F.lit("fo").alias("op"), "doc_id", "n_docs",
                  "n_events"))
    from mre.io import read_table
    from mre.sources.cdx import capture_delta
    root = _cdx_fixture(spark, sf_dir)
    dd = capture_delta(
        read_table(spark, f"cdx:{root}/old/*.cdxj.gz"),
        read_table(spark, f"cdx:{root}/new/*.cdxj.gz"))
    code = (F.when(F.col("status") == "unchanged", 0)
            .when(F.col("status") == "changed", 1)
            .when(F.col("status") == "added", 2)
            .otherwise(3))
    delta = dd.select(
        F.lit("delta").alias("op"),
        F.regexp_extract("urlkey", r"/articles/(\d+)", 1)
        .cast("long").alias("doc_id"),
        code.cast("long").alias("n_docs"),
        F.col("n_captures").alias("n_events"))
    from mre.linkgraph import fetch_plan
    docs_d = _t(spark, sf_dir, "documents").select("doc_id")
    fetch = (dd.filter(F.col("status").isin("added", "changed"))
             .select(F.lower("url").alias("url")))
    fp = fetch_plan(fetch, _robots_fixture(docs_d), agent="mrebot")
    plan = fp.select(
        F.lit("plan").alias("op"),
        F.regexp_extract("url", r"/articles/(\d+)$", 1)
        .cast("long").alias("doc_id"),
        F.col("rank").cast("long").alias("n_docs"),
        F.col("start_ms").alias("n_events"))
    return fo.unionAll(delta).unionAll(plan)


# --------------------------------------------------------------------------
# training-data ops (mre.textops) over documents / embeddings


# BPE driver-row constants (shared by the Spark branch and the oracle
# generator — VERDICT r6 #4): 12 merges learned from the top-120 words of
# the first 300 chars of every 13th doc. Small enough that the oracle
# replays the FULL learn as an unrolled 12-iteration CTE chain and the
# apply as a pure replace chain; run_curate runs the same operators
# (mre.bpe.bpe_learn / bpe_tokenize) with production-sized parameters.
_BPE_M, _BPE_V, _BPE_CAP, _BPE_MOD = 12, 120, 300, 13


def q_token_stats(spark, sf_dir):
    """BPE token accounting as a tagged union (registry-window rule,
    SURVEY §7.4 #19). Shared schema (op, doc_id, m1..m4, s1):

    * op='merges' — the learned BPE merge table itself (doc_id=rank,
      m1=the winning pair's count at selection time, s1='left|right') —
      the LEARNER is value-checked, not just its downstream counts.
    * op='bpe'    — subword accounting over the learning slice under
      those merges: m1=n_words, m2=n_subword_tokens, m3=token-string
      length, s1=the full space-joined token sequence (value-hashed →
      the segmentation is byte-checked cross-engine).

    Learning is mre.bpe.bpe_learn (single distributed word count, then
    the driver-side merge loop over a bounded top-V vocabulary);
    application is mre.bpe.bpe_tokenize, the per-doc UDF run_curate's
    token accounting runs — single-pass merge semantics, see
    mre/bpe.py."""
    from mre.bpe import bpe_learn, bpe_tokenize
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    sl = docs.filter(F.col("doc_id") % _BPE_MOD == 0)
    merges = bpe_learn(sl, num_merges=_BPE_M, vocab_top=_BPE_V,
                       text_cap=_BPE_CAP)
    bpe = bpe_tokenize(sl, merges, text_cap=_BPE_CAP,
                       with_tokens=True).select(
        F.lit("bpe").alias("op"), "doc_id",
        F.col("n_words").cast("long").alias("m1"),
        F.col("n_bpe_tokens").alias("m2"),
        F.length("bpe_tokens").cast("long").alias("m3"),
        F.lit(None).cast("long").alias("m4"),
        F.col("bpe_tokens").alias("s1"))
    mrows = spark.createDataFrame(
        [("merges", i + 1, c, None, None, None, f"{l}|{r}")
         for i, (l, r, c) in enumerate(merges)],
        "op string, doc_id long, m1 long, m2 long, m3 long, m4 long, "
        "s1 string")
    return bpe.unionByName(mrows)


_LM_VOCAB_TOP = 64


def q_quality(spark, sf_dir):
    """Quality scoring as one tagged union (registry-window rule).

    * op='lm' (round 7) — CCNet-family unigram-LM perplexity scoring,
      self-trained on the same corpus: n_tokens=scored token count,
      quality_bp=nll_micro_mean (mean negative log-likelihood in
      micro-nats — perplexity is exp(m/1e6), same ordering). The single
      float op (ln) is floored to integer micro-nats per vocab entry;
      doc sums/means are exact integers (order-independent), so the
      DuckDB replay of the ENTIRE learn+score matches byte-for-byte.
    * op='vocab' — the learned model itself: doc_id=rank under the
      total order (count desc, token asc), n_tokens=count,
      quality_bp=nll_micro. Membership differences at the vocab
      boundary are observable through the op='lm' scores.
    * op='rep' (round 7) — gopher_ngram_battery, the full Gopher
      Table A1 n-gram repetition battery: one row per (doc, n) for
      n=2..10 with n_tokens=n, quality_bp=char_bp (top-gram char
      fraction for n≤4, duplicate-gram char fraction for n≥5, integer
      basis points), stopword_ratio=pass_rule and
      mean_token_len=pass_ngram_battery (0/1 as double — the shared
      union schema has exactly two spare double slots).
    * op='nb' (round 7) — self-trained multinomial Naive Bayes, the
      SQL-replayable analogue of CCNet's fastText gate: trained on
      label = (lang == 'en') with the shared micro-nat device
      (add-one smoothing, bounded shared vocab, OOV slot, prior);
      n_tokens=scored tokens, quality_bp=margin_micro (nll1 − nll0
      incl. prior; ≤ 0 predicts class 1), stopword_ratio=nb_pred.
      The ENTIRE train (per-class counts → total-order top-V vocab →
      floored deltas) and score replay in DuckDB."""
    from mre.textops import (_register_cache, gopher_ngram_battery,
                             lm_learn, lm_score, nb_score, nb_train,
                             tokens_col)
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    # ONE corpus token explode+count shared by the lm and nb learners
    # (round 8): cnt counts every token (lm semantics, label-independent)
    # while c0/c1 are the per-class sums nb needs — previously each
    # learner ran its own full explode+shuffle over identical tokens.
    labeled = docs.withColumn("label",
                              (F.col("lang") == "en").cast("int"))
    tokc = _register_cache(
        labeled.select(F.col("label").alias("_y"),
                       F.explode(tokens_col()).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"),
             F.sum(F.when(F.col("_y") == 0, 1).otherwise(0)).alias("c0"),
             F.sum(F.when(F.col("_y") == 1, 1).otherwise(0)).alias("c1"))
        .persist())
    vocab, total = lm_learn(docs, vocab_top=_LM_VOCAB_TOP,
                            counts=tokc.select("tok", "cnt"))
    ordered = [(r["tok"], int(r["cnt"]), int(r["nll_micro"]))
               for r in vocab.orderBy(F.col("cnt").desc(), "tok")
               .collect()]  # bounded: ≤ _LM_VOCAB_TOP rows
    lm = lm_score(docs, [(t, nll) for t, _, nll in ordered], total).select(
        F.lit("lm").alias("op"), "doc_id",
        F.col("lm_n_tokens").alias("n_tokens"),
        F.lit(None).cast("double").alias("stopword_ratio"),
        F.lit(None).cast("double").alias("mean_token_len"),
        F.col("nll_micro_mean").alias("quality_bp"))
    vrows = spark.createDataFrame(
        [(i + 1, c, nll) for i, (t, c, nll) in enumerate(ordered)],
        "doc_id long, n_tokens long, quality_bp long").select(
        F.lit("vocab").alias("op"), "doc_id", "n_tokens",
        F.lit(None).cast("double").alias("stopword_ratio"),
        F.lit(None).cast("double").alias("mean_token_len"),
        "quality_bp")
    rep = gopher_ngram_battery(docs).select(
        F.lit("rep").alias("op"), "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("pass_rule").cast("double").alias("stopword_ratio"),
        F.col("pass_ngram_battery").cast("double").alias("mean_token_len"),
        F.col("char_bp").alias("quality_bp"))
    model, meta = nb_train(labeled, "label", vocab_top=_LM_VOCAB_TOP,
                           counts=tokc.select("tok", "c0", "c1"))
    nb = nb_score(docs, model, meta).select(
        F.lit("nb").alias("op"), "doc_id",
        F.col("nb_n_tokens").alias("n_tokens"),
        F.col("nb_pred").cast("double").alias("stopword_ratio"),
        F.lit(None).cast("double").alias("mean_token_len"),
        F.col("margin_micro").alias("quality_bp"))
    return lm.unionByName(vrows).unionByName(rep).unionByName(nb)


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


def q_source_stats(spark, sf_dir):
    """Per-source/host analytics as one tagged union (registry-window
    rule). Shared schema (op, source, n_docs, total_chars, n_langs,
    n_dup_docs):

    * op='links' (round 7) — the host link-graph family: deterministic
      link pages are built per doc_id IN THE EXECUTORS (the media_meta
      builder device), anchors are extracted through the REAL lenient
      parser (mre.core.htmlparse via mapInPandas), same-host links
      (relative nav + the doc_id%5 absolute self-link) are dropped,
      and damped PageRank runs 4 integer micro-unit iterations over
      the weighted host graph (mre/linkgraph.py). Column mapping per
      host: n_docs = out-edges kept, total_chars = rank_micro,
      n_langs = distinct dst hosts, n_dup_docs = self-links dropped —
      so the parse, the edge collapse AND every PageRank floor are
      value-checked; the oracle replays the builder arithmetic and
      the unrolled iterations in SQL."""
    from mre.linkgraph import (extract_links, host_edges, link_pages_df,
                               pagerank_hosts)
    from mre.textops import _register_cache
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    links = _register_cache(
        extract_links(link_pages_df(docs)).persist())
    pr = pagerank_hosts(host_edges(links), iters=4)
    per_host = (links.groupBy("src_host")
                .agg(F.sum(F.when(F.col("kind") == "edge", 1)
                           .otherwise(0)).alias("edges"),
                     F.sum(F.when(F.col("kind") == "self", 1)
                           .otherwise(0)).alias("selfs"),
                     F.countDistinct(
                         F.when(F.col("kind") == "edge",
                                F.col("dst_host"))).alias("ndst")))
    lk = (per_host.join(pr, per_host["src_host"] == pr["host"])
          .select(F.lit("links").alias("op"),
                  F.col("src_host").alias("source"),
                  F.col("edges").cast("long").alias("n_docs"),
                  F.col("rank_micro").alias("total_chars"),
                  F.col("ndst").cast("long").alias("n_langs"),
                  F.col("selfs").cast("long").alias("n_dup_docs")))
    # op='mix' (round 7) — temperature-scaled mixture shares
    # (mixture_weights_bp, alpha=0.5): per source the floored pow
    # micro-weight, the basis-point share, and the floored token
    # budget that share implies for a nominal 1M-token budget — the
    # whole UniMax-style weighting chain value-checked.
    from mre.textops import mixture_weights_bp
    mx = (mixture_weights_bp(docs, alpha_bp=5000)
          .select(F.lit("mix").alias("op"), "source",
                  F.col("n_docs").cast("long").alias("n_docs"),
                  F.col("w_micro").alias("total_chars"),
                  F.col("weight_bp").alias("n_langs"),
                  F.expr("(1000000 * weight_bp) DIV 10000")
                  .cast("long").alias("n_dup_docs")))
    return lk.unionAll(mx)


def q_media_meta(spark, sf_dir):
    """The multimodal family as one tagged union (registry-window rule),
    all REAL byte-level parsing, no decode libs. Shared schema
    (op, media_id, fmt, a, b, c):

    * op='meta'   — deterministic PNG/JPEG/GIF/WAV/MP4 payloads built
      per doc_id (doc_id % 5 selects the container) in the executors,
      format + dimensions / sample rate / duration sniffed back out of
      the BYTES (PNG IHDR, JPEG SOF scan, GIF screen descriptor, WAV
      fmt chunk, ISO-BMFF box walk — VERDICT r6 #5): a=width, b=height,
      c=sample_rate_hz for wav / duration_ms for mp4. The mp4 payloads
      alternate a 600-unit timescale so the sniffer's floor-division
      duration recovery is oracle-observable, not a pass-through.
    * op='dedup' / op='band' (round 7, VERDICT r6 #2) — media-payload
      dedup over a SECOND, coarsely-parameterized payload set (fmt =
      i%3, dims = (16+i%7, 16+i%5); the gif variant additionally
      varies its frame geometry by i%2, so byte-exact groups are
      strictly FINER than container bands). 'dedup' = exact sha1
      groups (a=keeper min id, b=copy count); 'band' = no-decode
      (fmt, sniffed width, sniffed height) groups. Oracle validity:
      the builders are deterministic and injective in their parameters
      (dims live in the IHDR/SOF/descriptor bytes, the gif frame
      geometry in its image descriptor), so byte-equality ⇔
      parameter-tuple equality and DuckDB replays the groups from the
      parameter formulas.
    """
    from mre.multimodal import (make_gif, make_jpeg, make_mp4, make_png,
                                make_wav, media_band_dedup,
                                media_exact_dedup, media_meta)
    _prep(spark)
    ids = _t(spark, sf_dir, "documents") \
        .select(F.col("doc_id").alias("media_id"))

    def gen(batches):
        import pandas as pd
        builders = [make_png, make_jpeg, make_gif]
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                i = int(mid)
                if i % 5 == 3:
                    payload = make_wav(8000 + (i % 8) * 1000)
                elif i % 5 == 4:
                    payload = make_mp4(
                        16 + i % 317, 16 + i % 211,
                        500 + (i % 977) * 3,
                        timescale=600 if i % 2 == 0 else 1000)
                else:
                    payload = builders[i % 5](16 + i % 317, 16 + i % 211)
                rows.append({"media_id": i, "payload": payload})
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(gen, "media_id bigint, payload binary")
    meta = media_meta(media).select(
        F.lit("meta").alias("op"), "media_id", "fmt",
        F.col("width").alias("a"), F.col("height").alias("b"),
        F.coalesce(F.col("sample_rate_hz").cast("long"),
                   F.col("duration_ms")).alias("c"))

    def gen_dup(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                i = int(mid)
                w, h = 16 + i % 7, 16 + i % 5
                if i % 3 == 0:
                    payload = make_png(w, h)
                elif i % 3 == 1:
                    payload = make_jpeg(w, h)
                else:
                    payload = make_gif(w, h,
                                       frames=[(0, 0, 8 + i % 2, 8)])
                rows.append({"media_id": i, "payload": payload})
            yield pd.DataFrame(rows)

    dup_media = ids.mapInPandas(gen_dup,
                                "media_id bigint, payload binary")
    fmt3 = F.expr("CASE media_id % 3 WHEN 0 THEN 'png' "
                  "WHEN 1 THEN 'jpeg' ELSE 'gif' END")
    ded = media_exact_dedup(dup_media).select(
        F.lit("dedup").alias("op"), "media_id", fmt3.alias("fmt"),
        F.col("keeper_id").cast("int").alias("a"),
        F.col("n_copies").cast("int").alias("b"),
        F.lit(None).cast("long").alias("c"))
    band = media_band_dedup(dup_media).select(
        F.lit("band").alias("op"), "media_id", "fmt",
        F.col("keeper_id").cast("int").alias("a"),
        F.col("band_size").cast("int").alias("b"),
        F.lit(None).cast("long").alias("c"))
    return meta.unionAll(ded).unionAll(band)


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
    """Gopher rule filter + (r4) the repetition family: top word-bigram
    occupancy in basis points with its ~0.18 Gopher cut. ``keep`` stays
    the 5-rule composite (the curation pipeline's stage-1 contract);
    ``keep_strict`` additionally requires the repetition rule."""
    from mre.textops import gopher_quality, gopher_repetition
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    g = gopher_quality(docs)
    r = gopher_repetition(docs)
    return (g.join(r, "doc_id")
            .withColumn("keep_strict",
                        (F.col("keep") == 1)
                        & (F.col("pass_repetition") == 1))
            .withColumn("keep_strict", F.col("keep_strict").cast("int")))


def q_semi_anti_join(spark, sf_dir):
    """LEFT SEMI and LEFT ANTI joins, plus the INCREMENTAL-INGEST dedup
    path, as one tagged union (registry-window rule, SURVEY §7.4).
    op='semi'/'anti' partition `documents` exactly, value-checking both
    join types at once. op='ingest' (VERDICT r5 #3) drives the
    index-based ingestion family end-to-end: the even-doc_id half of the
    corpus is indexed (build_dedup_index → fingerprints + signatures +
    pre-banded LSH rows in a temp dir), the batch is the odd half plus
    planted exact copies of every doc_id%10==0 corpus doc (re-keyed
    +10_000_000), and the rows are dedup_increment's survivors — so the
    oracle value-checks within-batch exact keep-min, the
    fingerprint-anti-join vs the index, the batch-vs-corpus banded
    estimator (threshold 0.2 = the replay golden's), and the
    cluster-min within-batch pass, all against DuckDB (golden pairs
    restricted by endpoint parity + a recursive-CTE component replay —
    signatures/bands/est are per-doc/per-pair pure, so full-corpus
    golden pairs restricted to cross/batch endpoints ARE the ingest
    candidates)."""
    import tempfile
    from mre.curate import build_dedup_index, dedup_increment
    _prep(spark)
    d = _t(spark, sf_dir, "documents")
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("doc_id"))
    semi = (d.join(ev, "doc_id", "left_semi")
            .withColumn("op", F.lit("semi")))
    anti = (d.join(ev, "doc_id", "left_anti")
            .withColumn("op", F.lit("anti")))
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    planted = (corpus.filter(F.col("doc_id") % 10 == 0)
               .withColumn("doc_id", F.col("doc_id") + 10000000))
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(planted)
    idx = tempfile.mkdtemp(prefix="mre_ingest_q_")
    build_dedup_index(spark, corpus, idx)
    surv = dedup_increment(spark, batch, idx, threshold=0.2,
                           update_index=False)
    ing = surv.withColumn("op", F.lit("ingest"))
    return (semi.unionAll(anti).unionAll(ing)
            .select("op", "doc_id", "lang", "n_chars"))


_URL_NORM_STEPS = [
    # (pattern, replacement) — applied in order; identical regex dialect in
    # Spark (Java) and DuckDB (RE2) for these patterns
    (r"#.*$", ""),                       # fragment
    (r"([?&])utm_[a-z_]+=[^&#]*", r"$1"),  # tracking params
    (r"^https?://(www\.)*", "https://"),   # scheme + ALL leading www.
    (r"([^:/])[?&/]+$", r"$1"),  # trailing junk: slashes + dangling ?/&
]
# idempotence (norm∘norm == norm) is fuzz-tested in test_property_fuzz —
# (www\.)* not (www\.)?, and ONE combined trailing-junk rule instead of
# separate [?&]+$ / /+$ passes (separate rules weren't a fixpoint: the
# slash strip could expose a dangling '&' that the separator strip then
# ate only on the NEXT application, e.g. 'https://&/')


def q_url_dedup(spark, sf_dir):
    """URL-level curation as one tagged union (registry-window rule).

    * op='norm' — canonicalization + dedup, the first operation any
      web-scale corpus pipeline runs: two deterministic variants per
      doc (clean + messy with scheme-case/www/utm/fragment/trailing-
      slash noise) must collapse to one canonical url via a pure-regex
      normalizer (JVM-side, no UDF). url_norm=the canonical url,
      n_variants=count, sample_raw=min raw variant.
    * op='uf' — url_filter (round 7, the RefinedWeb-family URL gate)
      over planted spam/digit-host/clean variants of the clean url
      (doc_id%23: digit-heavy host; %13: hard marker; %18: three soft
      hits; %9: two soft hits — kept): url_norm=the url,
      n_variants=spam_score*1000000 + host_digit_bp (both metrics in
      one packed long), sample_raw=keep_url."""
    from mre.textops import url_filter
    _prep(spark)
    d = _t(spark, sf_dir, "documents").select("doc_id")
    sid = (F.col("doc_id") % 20).cast("string")
    did = F.col("doc_id").cast("string")
    clean = F.concat(F.lit("https://example-"), sid,
                     F.lit(".com/articles/"), did)
    messy = F.concat(F.lit("HTTP://WWW.Example-"), sid,
                     F.lit(".COM/Articles/"), did,
                     F.lit("/?utm_source=feed#top"))
    urls = d.select("doc_id",
                    F.explode(F.array(clean, messy)).alias("url"))
    norm = F.lower(F.col("url"))
    for pat, rep in _URL_NORM_STEPS:
        norm = F.regexp_replace(norm, pat, rep)
    nrm = (urls.withColumn("url_norm", norm)
           .groupBy("url_norm")
           .agg(F.count("*").alias("n_variants"),
                F.min("url").alias("sample_raw"))
           .select(F.lit("norm").alias("op"), "url_norm",
                   "n_variants", "sample_raw"))
    doc = F.col("doc_id")
    uf_url = (
        F.when(doc % 23 == 0,
               F.concat(F.lit("https://h"),
                        (doc * 9973).cast("string"),
                        F.lit("9999999.com/p")))
        .when(doc % 13 == 0, F.concat(clean, F.lit("-xxx")))
        .when(doc % 18 == 0,
              F.concat(clean, F.lit("/casino-casino-casino")))
        .when(doc % 9 == 0,
              F.concat(clean, F.lit("/casino-bonus-code")))
        .otherwise(clean))
    uf = (url_filter(d.select("doc_id", uf_url.alias("url")))
          .select(F.lit("uf").alias("op"),
                  F.col("url").alias("url_norm"),
                  (F.col("spam_score") * 1000000
                   + F.col("host_digit_bp")).alias("n_variants"),
                  F.col("keep_url").cast("string").alias("sample_raw")))

    # op='robots' — crawl-policy compliance: per-host robots.txt BUILT
    # by arithmetic in the executors (mre/linkgraph.py robots_txt_of:
    # even host idx → a specific 'mrebot' group that REPLACES '*',
    # odd → '*' only), evaluated for agent 'mrebot' over the clean
    # /articles/ urls by the REAL stdlib parser. n_variants packs
    # allowed*1000000 + the matched group's Crawl-delay in ms (even
    # idx: the mrebot group's 1+s%5 seconds; odd: the '*' group's
    # 2+s%4 only when s%3==1) — RFC group selection, prefix matching
    # AND delay extraction all value-checked per url against the
    # oracle's arithmetic CASE.
    from mre.linkgraph import robots_allowed
    robots = _robots_fixture(d)
    rb = (robots_allowed(d.select(clean.alias("url")), robots,
                         agent="mrebot")
          .select(F.lit("robots").alias("op"),
                  F.col("url").alias("url_norm"),
                  (F.col("allowed") * 1000000
                   + F.col("crawl_delay_ms")).alias("n_variants"),
                  F.col("host").alias("sample_raw")))
    return nrm.unionAll(uf).unionAll(rb)


def q_hash_sample(spark, sf_dir):
    """Content-hash sampling as one tagged union (registry-window rule).
    op='budget' (round 7) — budget_sample with a flat 700-token
    per-source cap: docs taken in md5-hash order per source while the
    running whitespace-token total stays ≤ the budget; lang carries
    the source, n_chars the running total INCLUDING the doc (so the
    exact hash ordering and the inclusive cut are value-checked).
    op='dsir' (round 7) — DSIR importance selection (Xie et al. 2023):
    hashed unigram+bigram bucket log-ratios toward the lang='en'
    target distribution in exact micro-nat integers (the unigram-LM
    device), exact top-n//5 by (weight desc, doc_id) via the sort-free
    histogram threshold; n_chars carries the integer weight so the
    whole learn→score→select chain is value-checked per row."""
    from mre.textops import budget_sample, dsir_topk
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    budg = budget_sample(docs, 700).select(
        F.lit("budget").alias("op"), "doc_id",
        F.col("source").alias("lang"),
        F.col("cum_tokens").alias("n_chars"))
    dsir = dsir_topk(docs, F.col("lang") == "en",
                     docs.count() // 5).select(
        F.lit("dsir").alias("op"), "doc_id", "lang",
        F.col("dsir_weight_micro").alias("n_chars"))
    return budg.unionAll(dsir)


def q_hash_split(spark, sf_dir):
    """Deterministic 90/10 train/test split by content hash; returns the
    per-(split, lang) counts so the whole assignment is value-checked."""
    from mre.textops import hash_split
    _prep(spark)
    return (hash_split(_t(spark, sf_dir, "documents"), "text", 0.9)
            .groupBy("split", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("min_doc_id")))


_PII_FOOTER = ("@example.com from 10.0.0.99 call 555-123-4567"
               " or (555) 123-4567 or +1 555 123 4567")
# op='c4' line-structure augmentation (the fixture corpus is flat
# space-separated words, so page-like lines are synthesized
# deterministically — same device as the PII footer): 6-word lines,
# every even line gains terminal punctuation, every (i%7==3)rd line
# becomes the javascript banner, and two doc-level classes get a
# page-drop trigger line appended. Shared verbatim with the oracle.
_C4_JS_LINE = "please enable javascript to view this page."
_C4_LOREM_LINE = "lorem ipsum dolor sit amet consectetur."
_C4_CODE_LINE = "function() { return 1; }"

# op='gdupl'/'gdupp' line+paragraph structure augmentation (round 7,
# for gopher_dup_sections — same flat-corpus device as op='c4'): 6-word
# lines with every (i%4==1)th line a constant boilerplate (docs with ≥6
# lines get real within-doc duplicate lines at doc-varying fractions),
# lines grouped into 3-line paragraphs, and doc_id%6==0 appends one
# constant 2-line paragraph TWICE (guaranteed duplicate paragraphs).
# Shared verbatim with the oracle.
_GDUP_BOILER = "sign up for our newsletter today"
_GDUP_PARA_L1 = "all rights reserved"
_GDUP_PARA_L2 = "contact us for details"


def q_sentence_dedup(spark, sf_dir):
    """The passage-dedup / text-scrub family as one tagged union
    (registry-window rule, SURVEY §7.4 #19). Shared schema
    (op, doc_id, m1..m4, text_out); per-branch meaning:

    * op='depassage' — remove_dup_passages (VERDICT r4 #2, the rewrite
      half of passage dedup): m1=n_parts, m2=n_removed, m3=bytes_removed,
      m4=length(rewritten), text_out=the rewritten text itself
      (value-hashed → the rewrite is byte-checked cross-engine).
    * op='pii'       — pii_scrub (VERDICT r4 #4) over the corpus with a
      deterministic synthetic PII footer appended to every 7th doc (the
      fixture corpus carries no organic PII; the footer makes both true
      positives and redaction value-checked, while untouched docs prove
      no false positives): m1=n_emails, m2=n_phones, m3=n_ips, m4=n_pii,
      text_out=the redacted text.
    * op='desub'     — remove_dup_windows (VERDICT r5 #7, substring-
      level dedup): every 8-token window shared by >5 docs is stripped
      at token granularity. m1=n_windows, m2=n_flagged,
      m3=bytes_removed, m4=length(rewritten), text_out=the rewritten
      text (value-hashed → the sub-passage rewrite is byte-checked
      cross-engine).
    * op='c4'       — c4_line_clean (round 7, the public C4 cleaning
      recipe) over a deterministic line-structure augmentation (6-word
      lines; even lines punctuated; every (i%7==3)rd line a javascript
      banner; doc_id%13 adds a lorem-ipsum line, doc_id%17 a
      curly-brace code line — both page-drop triggers): m1=n_lines,
      m2=n_kept, m3=bytes_removed, m4=page keep flag, text_out=the
      kept lines re-joined (value-hashed → the line filter is
      byte-checked cross-engine).
    * op='gdupl'/'gdupp' — gopher_dup_sections (round 7, the Gopher
      duplicate-line/paragraph repetition rules) over a second
      deterministic augmentation (6-word lines, every (i%4==1)th line
      a constant boilerplate, 3-line paragraphs, doc_id%6 appends one
      constant paragraph twice): m1=n_lines (n_paras), m2=dup bp,
      m3=dup char bp, m4=pass_dup_sections, text_out=NULL.
    * op='glq' — gopher_line_rules (round 7, the Gopher line-format
      rules: >90% bullet-started or >30% ellipsis-ended lines drop the
      doc) over a third augmentation (6-word lines; every (i%3==0)th
      line bulleted — doc_id%7 bullets EVERY line; every (i%5==1)th
      line ellipsis-ended — doc_id%11 also every odd line, so both
      cuts fail on planted docs and pass elsewhere): m1=n_lines,
      m2=bullet_bp, m3=ellipsis_bp, m4=pass_line_rules,
      text_out=NULL."""
    from mre.textops import (c4_line_clean, gopher_dup_sections,
                             gopher_line_rules, pii_scrub,
                             remove_dup_passages, remove_dup_windows)
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    dep = remove_dup_passages(docs).select(
        F.lit("depassage").alias("op"), "doc_id",
        F.col("n_parts").cast("long").alias("m1"),
        F.col("n_removed").cast("long").alias("m2"),
        F.col("bytes_removed").cast("long").alias("m3"),
        F.length("text").cast("long").alias("m4"),
        F.col("text").alias("text_out"))
    aug = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit(_PII_FOOTER)))
        .otherwise(F.col("text")))
    pii = pii_scrub(aug).select(
        F.lit("pii").alias("op"), "doc_id",
        F.col("n_emails").alias("m1"),
        F.col("n_phones").alias("m2"),
        F.col("n_ips").alias("m3"),
        F.col("n_pii").alias("m4"),
        F.col("text").alias("text_out"))
    desub = remove_dup_windows(docs, w=8, max_df=5).select(
        F.lit("desub").alias("op"), "doc_id",
        F.col("n_windows").cast("long").alias("m1"),
        F.col("n_flagged").cast("long").alias("m2"),
        F.col("bytes_removed").cast("long").alias("m3"),
        F.length("text").cast("long").alias("m4"),
        F.col("text").alias("text_out"))
    w = F.split(F.col("text"), " ")
    nl = F.floor((F.size(w) + F.lit(5)) / F.lit(6)).cast("int")

    def _c4_line(i):
        base = F.array_join(F.slice(w, i * 6 + 1, 6), " ")
        return (F.when(i % 7 == 3, F.lit(_C4_JS_LINE))
                .when(i % 2 == 0, F.concat(base, F.lit(".")))
                .otherwise(base))

    empty = F.array().cast("array<string>")
    caug = docs.select(
        "doc_id",
        F.array_join(F.concat(
            F.transform(F.sequence(F.lit(0), nl - 1), _c4_line),
            F.when(F.col("doc_id") % 13 == 0,
                   F.array(F.lit(_C4_LOREM_LINE))).otherwise(empty),
            F.when(F.col("doc_id") % 17 == 0,
                   F.array(F.lit(_C4_CODE_LINE))).otherwise(empty)),
            "\n").alias("text"))
    c4 = c4_line_clean(caug).select(
        F.lit("c4").alias("op"), "doc_id",
        F.col("n_lines").alias("m1"),
        F.col("n_kept").alias("m2"),
        F.col("bytes_removed").alias("m3"),
        F.col("keep").alias("m4"),
        F.col("text").alias("text_out"))

    def _gd_line(i):
        base = F.array_join(F.slice(w, i * 6 + 1, 6), " ")
        return F.when(i % 4 == 1, F.lit(_GDUP_BOILER)).otherwise(base)

    glines = F.transform(F.sequence(F.lit(0), nl - 1), _gd_line)
    npar = F.floor((nl + F.lit(2)) / F.lit(3)).cast("int")
    gparas = F.transform(
        F.sequence(F.lit(0), npar - 1),
        lambda p: F.array_join(F.slice(glines, p * 3 + 1, 3), "\n"))
    gpara_dup = "\n\n" + _GDUP_PARA_L1 + "\n" + _GDUP_PARA_L2
    gtext = F.array_join(gparas, "\n\n")
    gtext = F.when(F.col("doc_id") % 6 == 0,
                   F.concat(gtext, F.lit(gpara_dup * 2))).otherwise(gtext)
    # gd feeds TWO union branches (gdupl + gdupp) — persist so the
    # paragraph-augmentation transform and the section scan run once
    # (round 8; registered for the bench's release_caches)
    from mre.textops import _register_cache
    gd = _register_cache(
        gopher_dup_sections(docs.select("doc_id", gtext.alias("text")))
        .persist())
    nulls = F.lit(None).cast("string").alias("text_out")
    gl = gd.select(
        F.lit("gdupl").alias("op"), "doc_id",
        F.col("n_lines").cast("long").alias("m1"),
        F.col("dup_line_bp").cast("long").alias("m2"),
        F.col("dup_line_char_bp").cast("long").alias("m3"),
        F.col("pass_dup_sections").cast("long").alias("m4"), nulls)
    gp = gd.select(
        F.lit("gdupp").alias("op"), "doc_id",
        F.col("n_paras").cast("long").alias("m1"),
        F.col("dup_para_bp").cast("long").alias("m2"),
        F.col("dup_para_char_bp").cast("long").alias("m3"),
        F.col("pass_dup_sections").cast("long").alias("m4"), nulls)

    def _lr_line(i):
        base = F.array_join(F.slice(w, i * 6 + 1, 6), " ")
        base = F.when(((F.col("doc_id") % 11 == 0) & (i % 2 == 1))
                      | (i % 5 == 1),
                      F.concat(base, F.lit(" ..."))).otherwise(base)
        return F.when((F.col("doc_id") % 7 == 0) | (i % 3 == 0),
                      F.concat(F.lit("• "), base)).otherwise(base)

    ltext = F.array_join(
        F.transform(F.sequence(F.lit(0), nl - 1), _lr_line), "\n")
    lr = gopher_line_rules(docs.select("doc_id", ltext.alias("text")))
    glq = lr.select(
        F.lit("glq").alias("op"), "doc_id",
        F.col("n_lines").cast("long").alias("m1"),
        F.col("bullet_bp").cast("long").alias("m2"),
        F.col("ellipsis_bp").cast("long").alias("m3"),
        F.col("pass_line_rules").cast("long").alias("m4"), nulls)
    return (dep.unionAll(pii).unionAll(desub).unionAll(c4).unionAll(gl)
            .unionAll(gp).unionAll(glq))


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023), the operator behind run_curate's
    ``semantic_dedup`` stage: LEARNED k-means (k=8, 3 deterministic
    Lloyd rounds, per-component centroid rounding) clusters the
    embedding space, cosine near-dups (round(cos,4) ≥ 0.3) are confirmed
    only within a cluster, and every vector with a lower-id in-threshold
    neighbour is dropped. query_id carries the witness (min such
    neighbour), neighbor_id the dropped vector, rank the cell — the
    whole cluster→confirm→drop chain is value-checked; the oracle
    replays Lloyd's as an unrolled per-iteration CTE chain."""
    from mre.textops import semdedup_losers
    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return semdedup_losers(emb, k=8, iters=3, threshold=0.3).select(
        F.lit("semdedup").alias("op"),
        F.col("witness").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        "cosine",
        F.col("cell").alias("rank"))


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
        "full_outer": q_full_outer,
        "token_stats": q_token_stats,
        "quality_score": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "exact_dedup": q_exact_dedup,
        "lsh_jaccard_verify": q_lsh_jaccard_verify,
        "minhash_near_dups": q_minhash_near_dups,
        "dup_clusters": q_dup_clusters,
        "contamination": q_contamination,
        "source_stats": q_source_stats,
        "media_meta": q_media_meta,
        "lineage_rollup": q_lineage_rollup,
        "semi_anti_join": q_semi_anti_join,
        "semdedup": q_semdedup,
        "url_dedup": q_url_dedup,
        "hash_sample": q_hash_sample,
        "hash_split": q_hash_split,
        "sentence_dedup": q_sentence_dedup,
        "gopher_quality": q_gopher_quality,
        "curation_pipeline": q_curation_pipeline,
    }


def _token_stats_oracle_sql() -> str:
    """Generated oracle for the q_token_stats tagged union: the 'merges'
    + 'bpe' branches replay the ENTIRE BPE stack in DuckDB — learning as an
    unrolled _BPE_M-iteration CTE chain (word count → top-_BPE_V vocab →
    per-iteration pair count / (cnt DESC, pair ASC) argmax / single-pass
    replace rewrite) and application as the same replace chain inside a
    list_transform lambda. MATERIALIZED is load-bearing: DuckDB inlines
    plain CTEs, and the 12-deep best/vocab chain re-expands
    exponentially without it. replace() here, in Spark and in Python
    shares left-to-right non-overlapping semantics — the cross-engine
    contract (tests/test_bpe.py::test_duckdb_replace_twin) the whole
    replay rests on; see mre/bpe.py for the single-pass spec."""
    ctes = [f"""
bpe_words AS MATERIALIZED (
  SELECT unnest(list_filter(string_split_regex(substr(text, 1, {_BPE_CAP}),
                                               '\\s+'),
                            w -> w <> '')) AS word
  FROM documents WHERE doc_id % {_BPE_MOD} = 0
),
vocab0 AS MATERIALIZED (
  SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> ' AS seq,
         cnt AS freq
  FROM (SELECT word, count(*) AS cnt FROM bpe_words GROUP BY 1
        ORDER BY cnt DESC, word LIMIT {_BPE_V})
)"""]
    for i in range(1, _BPE_M + 1):
        p = i - 1
        ctes.append(f"""
best{i} AS MATERIALIZED (
  SELECT z[1] AS l, z[2] AS r, sum(freq) AS cnt
  FROM (SELECT freq,
               unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS z
        FROM (SELECT freq,
                     list_filter(string_split(seq, ' '), s -> s <> '') AS syms
              FROM vocab{p}))
  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1
),
vocab{i} AS MATERIALIZED (
  SELECT replace(v.seq, ' '||b.l||' '||b.r||' ', ' '||b.l||b.r||' ') AS seq,
         v.freq
  FROM vocab{p} v, best{i} b
)""")
    ctes.append("mw AS MATERIALIZED (SELECT " + ", ".join(
        f"(SELECT ' '||l||' '||r||' ' FROM best{i}) AS p{i}, "
        f"(SELECT ' '||l||r||' ' FROM best{i}) AS q{i}"
        for i in range(1, _BPE_M + 1)) + ")")
    apply_expr = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '</w> '"
    for i in range(1, _BPE_M + 1):
        apply_expr = f"replace({apply_expr}, mw.p{i}, mw.q{i})"
    merges_rows = "\nUNION ALL\n".join(
        f"SELECT 'merges' AS op, {i}::BIGINT AS doc_id, cnt::BIGINT AS m1, "
        f"NULL::BIGINT AS m2, NULL::BIGINT AS m3, NULL::BIGINT AS m4, "
        f"l||'|'||r AS s1 FROM best{i}"
        for i in range(1, _BPE_M + 1))
    return f"""WITH {','.join(ctes)},
bpe AS (
  SELECT doc_id,
         list_transform(
             list_filter(string_split_regex(substr(text, 1, {_BPE_CAP}),
                                            '\\s+'),
                         w -> w <> ''),
             w -> trim({apply_expr})) AS toks
  FROM documents, mw WHERE doc_id % {_BPE_MOD} = 0
)
SELECT 'bpe' AS op, doc_id, len(toks)::BIGINT AS m1,
       len(string_split(array_to_string(toks, ' '), ' '))::BIGINT AS m2,
       length(array_to_string(toks, ' '))::BIGINT AS m3,
       NULL::BIGINT AS m4,
       array_to_string(toks, ' ') AS s1
FROM bpe
UNION ALL
{merges_rows}
"""


def _source_stats_oracle_sql() -> str:
    """Generated oracle for the q_source_stats tagged union: op='links'
    replays the link-page builder ARITHMETIC (mre/linkgraph.py
    link_page_html — host, anchor count and targets are pure doc_id
    arithmetic, mirrored verbatim: the Spark side derives the same
    numbers by PARSING the built pages) and PageRank as unrolled
    integer-floor iterations. All ops are integer division, so the ranks
    match exactly (the micro-nat device family)."""
    from mre.linkgraph import PAGERANK_DAMPING_PCT as _D
    from mre.linkgraph import PAGERANK_SCALE as _S
    _IT = 4
    rank_ctes = ",".join(f"""
            pr{i} AS MATERIALIZED (
              SELECT h.host,
                     (SELECT ({100 - _D} * {_S}) // (100 * n) FROM nn)
                     + COALESCE(sum(c.c), 0) AS r
              FROM hosts h LEFT JOIN (
                SELECT we.dst_host AS host,
                       we.w * (({_D} * p.r) // (100 * o.od)) AS c
                FROM we JOIN pr{i - 1} p ON p.host = we.src_host
                        JOIN od o ON o.src_host = we.src_host) c
                ON c.host = h.host
              GROUP BY h.host)""" for i in range(1, _IT + 1))
    return f"""
            WITH lbase AS (SELECT doc_id, doc_id % 16 AS src FROM documents),
            ledges AS (
                SELECT src, doc_id,
                       (src + 1 + ((doc_id * 7 + 5 * j.range) % 15))
                           % 16 AS dst
                FROM lbase CROSS JOIN range(0, 3) j
                WHERE j.range < 1 + doc_id % 3),
            we AS MATERIALIZED (
                SELECT 'h' || CAST(src AS VARCHAR) || '.example.org'
                           AS src_host,
                       'h' || CAST(dst AS VARCHAR) || '.example.org'
                           AS dst_host,
                       count(*) AS w
                FROM ledges GROUP BY 1, 2),
            hosts AS MATERIALIZED (
                SELECT DISTINCT src_host AS host FROM we
                UNION SELECT DISTINCT dst_host FROM we),
            od AS MATERIALIZED (
                SELECT src_host, sum(w) AS od FROM we GROUP BY 1),
            nn AS (SELECT count(*) AS n FROM hosts),
            pr0 AS MATERIALIZED (
                SELECT host, {_S} // n AS r FROM hosts, nn),
            {rank_ctes},
            lstats AS (
                SELECT 'h' || CAST(src AS VARCHAR) || '.example.org'
                           AS src_host,
                       count(*) AS edges,
                       count(DISTINCT dst) AS ndst
                FROM ledges GROUP BY 1),
            lselfs AS (
                SELECT 'h' || CAST(src AS VARCHAR) || '.example.org'
                           AS src_host,
                       sum(1 + CASE WHEN doc_id % 5 = 0
                                    THEN 1 ELSE 0 END) AS selfs
                FROM lbase GROUP BY 1)
            SELECT 'links' AS op, s.src_host AS source,
                   CAST(s.edges AS BIGINT) AS n_docs,
                   CAST(pr{_IT}.r AS BIGINT) AS total_chars,
                   CAST(s.ndst AS BIGINT) AS n_langs,
                   CAST(f.selfs AS BIGINT) AS n_dup_docs
            FROM lstats s
            JOIN lselfs f ON f.src_host = s.src_host
            JOIN pr{_IT} ON pr{_IT}.host = s.src_host
            UNION ALL
            -- op='mix': temperature-scaled mixture shares (alpha=0.5;
            -- one libm pow floored to micro-units, then pure integer)
            SELECT 'mix' AS op, source,
                   CAST(n AS BIGINT) AS n_docs,
                   CAST(w AS BIGINT) AS total_chars,
                   CAST((w * 10000) // t AS BIGINT) AS n_langs,
                   CAST((1000000 * ((w * 10000) // t)) // 10000
                        AS BIGINT) AS n_dup_docs
            FROM (SELECT source, n,
                         CAST(floor(pow(CAST(n AS DOUBLE), 0.5) * 1e6)
                              AS BIGINT) AS w
                  FROM (SELECT source, count(*) AS n FROM documents
                        GROUP BY 1)),
                 (SELECT sum(CAST(floor(pow(CAST(n AS DOUBLE), 0.5)
                                        * 1e6) AS BIGINT)) AS t
                  FROM (SELECT count(*) AS n FROM documents GROUP BY
                        source))
        """


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
    _P4I = _cov_probe(_COV, "VARCHAR", "BIGINT", "VARCHAR", "BIGINT")
    _PCUR = _cov_probe(_COV, "BIGINT", "VARCHAR", "VARCHAR")
    _PLIN = _cov_probe(_LCOV, "VARCHAR", "BIGINT", "BIGINT", "BIGINT",
                       "BIGINT", "BIGINT", "BIGINT")
    # op='semdedup' k-means replay: Lloyd's unrolled per iteration —
    # seed = the 8 lowest vec_ids' exact embeddings, each round one
    # assignment CTE (row_number ORDER BY cosine DESC, cell == Spark's
    # array_position-of-first-max) and one update CTE (per-component
    # avg ROUNDED to KMEANS_DECIMALS — the grid both engines meet on;
    # an emptied cell keeps its previous centroid via the COALESCE).
    # MATERIALIZED is load-bearing (rule 39): DuckDB inlines plain
    # CTEs and the assign/update chain re-expands exponentially.
    _SD_K, _SD_ITERS, _SD_THR = 8, 3, 0.3

    def _sd_assign(i, cents):
        return f"""
            sa{i} AS MATERIALIZED (
              SELECT vec_id, emb, cell FROM (
                SELECT se.vec_id, se.emb, c.cell,
                       row_number() OVER (PARTITION BY se.vec_id
                           ORDER BY list_cosine_similarity(se.emb,
                                                           c.cent) DESC,
                                    c.cell) AS rn
                FROM se CROSS JOIN {cents} c) WHERE rn = 1)"""

    def _sd_update(i):
        from mre.textops import KMEANS_DECIMALS
        return f"""
            sc{i} AS MATERIALIZED (
              SELECT p.cell, COALESCE(m.cent, p.cent) AS cent
              FROM sc{i - 1} p LEFT JOIN (
                SELECT cell, list(v ORDER BY pos) AS cent FROM (
                  SELECT a.cell, r.range AS pos,
                         round(avg(a.emb[r.range]),
                               {KMEANS_DECIMALS}) AS v
                  FROM sa{i} a CROSS JOIN range(1, 65) r
                  GROUP BY a.cell, r.range)
                GROUP BY cell) m ON m.cell = p.cell)"""

    _sd_ctes = [f"""
            se AS MATERIALIZED (
              SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            sc0 AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY vec_id) AS cell,
                     emb AS cent
              FROM (SELECT vec_id, emb FROM se
                    ORDER BY vec_id LIMIT {_SD_K}))"""]
    for _i in range(1, _SD_ITERS + 1):
        _sd_ctes.append(_sd_assign(_i, f"sc{_i - 1}"))
        _sd_ctes.append(_sd_update(_i))
    _sd_ctes.append(_sd_assign("F", f"sc{_SD_ITERS}"))
    _sd_chain = ",".join(_sd_ctes)
    semdedup_oracle = "WITH " + _sd_chain + f""",
            sp AS MATERIALIZED (
              SELECT cell, vec_a, vec_b, cosine FROM (
                SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
                       round(list_cosine_similarity(a.emb, b.emb), 4)
                           AS cosine
                FROM saF a JOIN saF b ON a.cell = b.cell
                                     AND a.vec_id < b.vec_id)
              WHERE cosine >= {_SD_THR})
            SELECT 'semdedup' AS op, min(vec_a) AS query_id,
                   vec_b AS neighbor_id,
                   arg_min(cosine, vec_a) AS cosine,
                   CAST(cell AS INTEGER) AS rank
            FROM sp GROUP BY cell, vec_b"""
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
        "media_meta": """
            SELECT 'meta' AS op, doc_id AS media_id,
                   CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                        WHEN 2 THEN 'gif' WHEN 3 THEN 'wav'
                        ELSE 'mp4' END AS fmt,
                   CASE WHEN doc_id % 5 <> 3
                        THEN CAST(16 + doc_id % 317 AS INTEGER) END
                       AS a,
                   CASE WHEN doc_id % 5 <> 3
                        THEN CAST(16 + doc_id % 211 AS INTEGER) END
                       AS b,
                   CASE WHEN doc_id % 5 = 3
                        THEN CAST(8000 + (doc_id % 8) * 1000 AS BIGINT)
                        -- mp4 duration: stored units floor both ways
                        -- through the alternating 600/1000 timescale
                        WHEN doc_id % 5 = 4
                        THEN CAST(((500 + (doc_id % 977) * 3)
                                   * (CASE WHEN doc_id % 2 = 0
                                           THEN 600 ELSE 1000 END)
                                   // 1000) * 1000
                                  // (CASE WHEN doc_id % 2 = 0
                                          THEN 600 ELSE 1000 END)
                                  AS BIGINT)
                        END AS c
            FROM documents
            UNION ALL
            -- round 7: exact payload dedup groups = builder parameter
            -- tuples (builders are injective: dims / gif frame geometry
            -- live in the container bytes)
            SELECT 'dedup', doc_id,
                   CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                        ELSE 'gif' END,
                   CAST(min(doc_id) OVER (
                        PARTITION BY doc_id % 3, doc_id % 7, doc_id % 5,
                        CASE WHEN doc_id % 3 = 2 THEN doc_id % 2
                             ELSE 0 END) AS INTEGER),
                   CAST(count(*) OVER (
                        PARTITION BY doc_id % 3, doc_id % 7, doc_id % 5,
                        CASE WHEN doc_id % 3 = 2 THEN doc_id % 2
                             ELSE 0 END) AS INTEGER),
                   CAST(NULL AS BIGINT)
            FROM documents
            UNION ALL
            -- no-decode banding = (fmt, sniffed dims) — coarser than
            -- exact for the gif family (frame geometry ignored)
            SELECT 'band', doc_id,
                   CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                        ELSE 'gif' END,
                   CAST(min(doc_id) OVER (
                        PARTITION BY doc_id % 3, doc_id % 7, doc_id % 5)
                        AS INTEGER),
                   CAST(count(*) OVER (
                        PARTITION BY doc_id % 3, doc_id % 7, doc_id % 5)
                        AS INTEGER),
                   CAST(NULL AS BIGINT)
            FROM documents
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
        "source_stats": _source_stats_oracle_sql(),
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
        "semdedup": semdedup_oracle,
        "url_dedup": r"""
            WITH u AS (
                SELECT doc_id, unnest([
                    'https://example-' || (doc_id % 20)
                        || '.com/articles/' || doc_id,
                    'HTTP://WWW.Example-' || (doc_id % 20)
                        || '.COM/Articles/' || doc_id
                        || '/?utm_source=feed#top']) AS url
                FROM documents),
            n AS (
                SELECT url,
                       regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(lower(url),
                           '#.*$', '', 'g'),
                           '([?&])utm_[a-z_]+=[^&#]*', '\1', 'g'),
                           '^https?://(www\.)*', 'https://', 'g'),
                           '([^:/])[?&/]+$', '\1', 'g') AS url_norm
                FROM u),
            ufu AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 23 = 0
                            THEN 'https://h' || (doc_id * 9973)
                                 || '9999999.com/p'
                            WHEN doc_id % 13 = 0
                            THEN 'https://example-' || (doc_id % 20)
                                 || '.com/articles/' || doc_id || '-xxx'
                            WHEN doc_id % 18 = 0
                            THEN 'https://example-' || (doc_id % 20)
                                 || '.com/articles/' || doc_id
                                 || '/casino-casino-casino'
                            WHEN doc_id % 9 = 0
                            THEN 'https://example-' || (doc_id % 20)
                                 || '.com/articles/' || doc_id
                                 || '/casino-bonus-code'
                            ELSE 'https://example-' || (doc_id % 20)
                                 || '.com/articles/' || doc_id
                       END AS url
                FROM documents),
            ufs AS (
                SELECT url,
                       (len(regexp_extract_all(lower(url), 'porn'))
                        + len(regexp_extract_all(lower(url), 'xxx'))
                        + len(regexp_extract_all(lower(url), 'viagra'))
                        + len(regexp_extract_all(lower(url), 'warez')))
                           * 100
                       + (len(regexp_extract_all(lower(url), 'casino'))
                          + len(regexp_extract_all(lower(url),
                                                   'lottery'))
                          + len(regexp_extract_all(lower(url),
                                                   'betting'))
                          + len(regexp_extract_all(lower(url), 'pills'))
                          + len(regexp_extract_all(lower(url),
                                                   'torrent'))
                          + len(regexp_extract_all(lower(url),
                                                   'bonus-code'))
                          + len(regexp_extract_all(lower(url),
                                                   'free-money')))
                           * 40 AS score,
                       regexp_extract(lower(url),
                           '^[a-z][a-z0-9+.-]*://(?:www\.)?([^/:?#]+)',
                           1) AS host
                FROM ufu),
            ufo AS (
                SELECT url, score,
                       CASE WHEN length(host) > 0
                            THEN length(regexp_replace(host, '[^0-9]',
                                                       '', 'g'))
                                 * 10000 // length(host)
                            ELSE 0 END AS hbp
                FROM ufs)
            SELECT 'norm' AS op, url_norm, count(*) AS n_variants,
                   min(url) AS sample_raw
            FROM n GROUP BY url_norm
            UNION ALL
            SELECT 'uf' AS op, url AS url_norm,
                   CAST(score * 1000000 + hbp AS BIGINT) AS n_variants,
                   CAST(CAST(score < 100 AND hbp <= 5000
                             AND length(url) <= 2048 AS INTEGER)
                        AS VARCHAR) AS sample_raw
            FROM ufo
            UNION ALL
            -- op='robots': arithmetic twin of robots_txt_of (even host
            -- idx: a specific mrebot group disallows /articles/ iff
            -- idx%4=0; odd: the * group disallows /articles/ iff
            -- idx%3=0) — the Spark side derives the same flags by
            -- PARSING the built robots.txt with urllib.robotparser
            SELECT 'robots' AS op,
                   'https://example-' || (doc_id % 20)
                       || '.com/articles/' || doc_id AS url_norm,
                   CAST(CASE WHEN (doc_id % 20) % 2 = 0
                             THEN CASE WHEN (doc_id % 20) % 4 = 0
                                       THEN 0 ELSE 1 END
                             ELSE CASE WHEN (doc_id % 20) % 3 = 0
                                       THEN 0 ELSE 1 END
                        END * 1000000
                      + CASE WHEN (doc_id % 20) % 2 = 0
                             THEN (1 + (doc_id % 20) % 5) * 1000
                             WHEN (doc_id % 20) % 3 = 1
                             THEN (2 + (doc_id % 20) % 4) * 1000
                             ELSE 0 END AS BIGINT) AS n_variants,
                   'example-' || (doc_id % 20) || '.com' AS sample_raw
            FROM documents
        """,
        # the passage-dedup / text-scrub family tagged union: depassage
        # (remove_dup_passages — the rewritten text itself is in
        # text_out, so the rewrite is byte-checked) + pii (pii_scrub over
        # the synthetic-footer augmentation) + desub/c4/gdup/glq.
        # Shared schema (op, doc_id, m1..m4, text_out).
        "sentence_dedup": rf"""
            WITH parts AS (
                SELECT doc_id, length(text) AS len0, pp.pos, pp.part,
                       md5(pp.part) AS pk
                FROM (SELECT doc_id, text,
                             regexp_split_to_array(text, '\. ') AS arr
                      FROM documents) d,
                     LATERAL (SELECT
                         unnest(generate_series(1, len(arr))) AS pos,
                         unnest(arr) AS part) pp),
            dup AS (
                SELECT pk FROM parts WHERE length(part) >= 20
                GROUP BY pk HAVING count(DISTINCT doc_id) > 1),
            dep AS (
                SELECT doc_id,
                       count(*) AS m1,
                       CAST(sum(CASE WHEN pk IN (SELECT pk FROM dup)
                                     THEN 1 ELSE 0 END) AS BIGINT) AS m2,
                       coalesce(string_agg(
                           CASE WHEN pk NOT IN (SELECT pk FROM dup)
                                THEN part END, '. ' ORDER BY pos), '')
                           AS text_out,
                       max(len0) AS len0
                FROM parts GROUP BY doc_id),
            aug AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN text || ' contact user'
                                 || CAST(doc_id AS VARCHAR)
                                 || '{_PII_FOOTER}'
                            ELSE text END AS text
                FROM documents),
            dtoks AS (
                SELECT doc_id, length(text) AS len0,
                       string_split(text, ' ') AS tk
                FROM documents),
            dwins0 AS (
                SELECT doc_id, tk,
                       unnest(range(greatest(len(tk) - 7, 0))) AS pos
                FROM dtoks),
            dwins AS (
                SELECT doc_id, pos,
                       md5(array_to_string(tk[pos + 1 : pos + 8], ' '))
                           AS wk
                FROM dwins0),
            ddup AS (
                SELECT wk FROM dwins
                GROUP BY wk HAVING count(DISTINCT doc_id) > 5),
            dstarts AS (
                SELECT doc_id, list_sort(list(pos)) AS ss
                FROM dwins WHERE wk IN (SELECT wk FROM ddup)
                GROUP BY doc_id),
            dsub AS (
                SELECT t.doc_id,
                       greatest(len(tk) - 7, 0) AS m1,
                       coalesce(len(ss), 0) AS m2,
                       array_to_string(
                           list_transform(
                               list_filter(range(len(tk)),
                                   ti -> len(list_filter(
                                       coalesce(ss, []),
                                       s -> s <= ti AND ti < s + 8)) = 0),
                               ti -> tk[ti + 1]),
                           ' ') AS text_out,
                       t.len0
                FROM dtoks t LEFT JOIN dstarts USING (doc_id)),
            c4a AS (
                SELECT doc_id, string_split(text, ' ') AS w
                FROM documents),
            c4b AS (
                SELECT doc_id,
                       list_transform(
                           generate_series(0, (len(w) + 5) // 6 - 1),
                           i -> CASE
                               WHEN i % 7 = 3 THEN '{_C4_JS_LINE}'
                               WHEN i % 2 = 0 THEN array_to_string(
                                   list_slice(w, i*6 + 1, i*6 + 6), ' ')
                                   || '.'
                               ELSE array_to_string(
                                   list_slice(w, i*6 + 1, i*6 + 6), ' ')
                               END)
                       || CASE WHEN doc_id % 13 = 0
                               THEN ['{_C4_LOREM_LINE}']
                               ELSE CAST([] AS VARCHAR[]) END
                       || CASE WHEN doc_id % 17 = 0
                               THEN ['{_C4_CODE_LINE}']
                               ELSE CAST([] AS VARCHAR[]) END AS ls
                FROM c4a),
            c4c AS (
                SELECT doc_id, ls, array_to_string(ls, chr(10)) AS aug,
                       list_filter(ls,
                           l -> regexp_matches(l, '[.!?"]$')
                                AND len(string_split(l, ' ')) >= 5
                                AND NOT contains(lower(l), 'javascript'))
                           AS kept
                FROM c4b),
            gdb AS (
                SELECT doc_id,
                       list_transform(
                           generate_series(0, (len(w) + 5) // 6 - 1),
                           i -> CASE WHEN i % 4 = 1
                               THEN '{_GDUP_BOILER}'
                               ELSE array_to_string(
                                   list_slice(w, i*6 + 1, i*6 + 6), ' ')
                               END) AS ls
                FROM c4a),
            gdc AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           generate_series(0, (len(ls) + 2) // 3 - 1),
                           p -> array_to_string(
                               list_slice(ls, p*3 + 1, p*3 + 3),
                               chr(10))),
                           chr(10) || chr(10))
                       || CASE WHEN doc_id % 6 = 0
                              THEN repeat(chr(10) || chr(10)
                                   || '{_GDUP_PARA_L1}' || chr(10)
                                   || '{_GDUP_PARA_L2}', 2)
                              ELSE '' END AS gaug
                FROM gdb),
            gsecl AS (
                SELECT doc_id,
                       unnest(list_filter(list_transform(
                           regexp_split_to_array(gaug, '\n'),
                           x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
                           x -> x <> '')) AS sec
                FROM gdc),
            gsecp AS (
                SELECT doc_id,
                       unnest(list_filter(list_transform(
                           regexp_split_to_array(gaug, '\n{{2,}}'),
                           x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
                           x -> x <> '')) AS sec
                FROM gdc),
            glc AS (
                SELECT doc_id, sec, count(*) AS c, max(length(sec)) AS l
                FROM gsecl GROUP BY 1, 2),
            gld AS (
                SELECT doc_id, sum(c) AS n, sum(c * l) AS nch,
                       coalesce(sum(CASE WHEN c > 1 THEN c END), 0)
                           AS dup,
                       coalesce(sum(CASE WHEN c > 1 THEN c * l END), 0)
                           AS dupch
                FROM glc GROUP BY doc_id),
            gpc AS (
                SELECT doc_id, sec, count(*) AS c, max(length(sec)) AS l
                FROM gsecp GROUP BY 1, 2),
            gpd AS (
                SELECT doc_id, sum(c) AS n, sum(c * l) AS nch,
                       coalesce(sum(CASE WHEN c > 1 THEN c END), 0)
                           AS dup,
                       coalesce(sum(CASE WHEN c > 1 THEN c * l END), 0)
                           AS dupch
                FROM gpc GROUP BY doc_id),
            gout AS (
                SELECT d.doc_id,
                       coalesce(gld.n, 0) AS n_lines,
                       coalesce(gld.dup * 10000 // gld.n, 0) AS l_bp,
                       coalesce(gld.dupch * 10000 // gld.nch, 0)
                           AS l_cbp,
                       coalesce(gpd.n, 0) AS n_paras,
                       coalesce(gpd.dup * 10000 // gpd.n, 0) AS p_bp,
                       coalesce(gpd.dupch * 10000 // gpd.nch, 0)
                           AS p_cbp
                FROM documents d
                LEFT JOIN gld ON gld.doc_id = d.doc_id
                LEFT JOIN gpd ON gpd.doc_id = d.doc_id),
            gfin AS (
                SELECT *,
                       CAST(l_bp <= 3000 AND l_cbp <= 2000
                            AND p_bp <= 3000 AND p_cbp <= 2000
                            AS BIGINT) AS gpass
                FROM gout),
            lqb AS (
                SELECT doc_id,
                       list_transform(
                           generate_series(0, (len(w) + 5) // 6 - 1),
                           i -> CASE WHEN doc_id % 7 = 0 OR i % 3 = 0
                                     THEN '• ' ELSE '' END
                             || array_to_string(
                                    list_slice(w, i*6 + 1, i*6 + 6), ' ')
                             || CASE WHEN (doc_id % 11 = 0
                                           AND i % 2 = 1)
                                          OR i % 5 = 1
                                     THEN ' ...' ELSE '' END) AS ls
                FROM c4a),
            lqs AS (
                SELECT doc_id, len(ls2) AS n_lines,
                       len(list_filter(ls2,
                           x -> substr(x, 1, 1) IN
                                    ('•','‣','▪','◦','●','·')
                                OR x LIKE '- %' OR x LIKE '* %')) AS nb,
                       len(list_filter(ls2,
                           x -> x LIKE '%...' OR x LIKE '%…')) AS ne
                FROM (SELECT doc_id,
                             list_filter(list_transform(ls,
                                 x -> regexp_replace(x, '^\s+|\s+$',
                                                     '', 'g')),
                                 x -> x <> '') AS ls2
                      FROM lqb)),
            lqo AS (
                SELECT doc_id, n_lines,
                       CASE WHEN n_lines > 0
                            THEN nb * 10000 // n_lines ELSE 0 END AS bbp,
                       CASE WHEN n_lines > 0
                            THEN ne * 10000 // n_lines ELSE 0 END AS ebp
                FROM lqs)
            SELECT 'depassage' AS op, doc_id,
                   CAST(m1 AS BIGINT) AS m1, m2,
                   CAST(len0 - length(text_out) AS BIGINT) AS m3,
                   CAST(length(text_out) AS BIGINT) AS m4,
                   text_out
            FROM dep
            UNION ALL
            SELECT 'pii' AS op, doc_id,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}'
                       )) AS BIGINT) AS m1,
                   CAST(len(regexp_extract_all(text,
                       '\+?\d{{1,2}}[-. ]\(?\d{{3}}\)?[-. ]?\d{{3}}[-. ]\d{{4}}\b|\(\d{{3}}\)[-. ]?\d{{3}}[-. ]\d{{4}}\b|\+?\d{{3}}[-. ]\d{{3}}[-. ]\d{{4}}\b'
                       )) AS BIGINT) AS m2,
                   CAST(len(regexp_extract_all(text,
                       '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b'
                       )) AS BIGINT) AS m3,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}'
                       ))
                     + len(regexp_extract_all(text,
                       '\+?\d{{1,2}}[-. ]\(?\d{{3}}\)?[-. ]?\d{{3}}[-. ]\d{{4}}\b|\(\d{{3}}\)[-. ]?\d{{3}}[-. ]\d{{4}}\b|\+?\d{{3}}[-. ]\d{{3}}[-. ]\d{{4}}\b'))
                     + len(regexp_extract_all(text,
                       '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b'))
                     AS BIGINT) AS m4,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
                       '<EMAIL>', 'g'),
                       '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b',
                       '<IP>', 'g'),
                       '\+?\d{{1,2}}[-. ]\(?\d{{3}}\)?[-. ]?\d{{3}}[-. ]\d{{4}}\b|\(\d{{3}}\)[-. ]?\d{{3}}[-. ]\d{{4}}\b|\+?\d{{3}}[-. ]\d{{3}}[-. ]\d{{4}}\b',
                       '<PHONE>', 'g') AS text_out
            FROM aug
            UNION ALL
            SELECT 'desub' AS op, doc_id,
                   CAST(m1 AS BIGINT) AS m1,
                   CAST(m2 AS BIGINT) AS m2,
                   CAST(len0 - length(text_out) AS BIGINT) AS m3,
                   CAST(length(text_out) AS BIGINT) AS m4,
                   text_out
            FROM dsub
            UNION ALL
            SELECT 'c4' AS op, doc_id,
                   CAST(len(ls) AS BIGINT) AS m1,
                   CAST(len(kept) AS BIGINT) AS m2,
                   CAST(length(aug)
                        - length(array_to_string(kept, chr(10)))
                        AS BIGINT) AS m3,
                   CAST(len(kept) >= 3
                        AND NOT (contains(aug, '{{')
                                 OR contains(aug, '}}')
                                 OR contains(lower(aug), 'lorem ipsum'))
                        AS BIGINT) AS m4,
                   array_to_string(kept, chr(10)) AS text_out
            FROM c4c
            UNION ALL
            SELECT 'gdupl' AS op, doc_id,
                   CAST(n_lines AS BIGINT) AS m1,
                   CAST(l_bp AS BIGINT) AS m2,
                   CAST(l_cbp AS BIGINT) AS m3,
                   gpass AS m4,
                   CAST(NULL AS VARCHAR) AS text_out
            FROM gfin
            UNION ALL
            SELECT 'gdupp' AS op, doc_id,
                   CAST(n_paras AS BIGINT) AS m1,
                   CAST(p_bp AS BIGINT) AS m2,
                   CAST(p_cbp AS BIGINT) AS m3,
                   gpass AS m4,
                   CAST(NULL AS VARCHAR) AS text_out
            FROM gfin
            UNION ALL
            SELECT 'glq' AS op, doc_id,
                   CAST(n_lines AS BIGINT) AS m1,
                   CAST(bbp AS BIGINT) AS m2,
                   CAST(ebp AS BIGINT) AS m3,
                   CAST(bbp <= 9000 AND ebp <= 3000 AS BIGINT) AS m4,
                   CAST(NULL AS VARCHAR) AS text_out
            FROM lqo
        """,
        "hash_sample": """
            SELECT 'budget' AS op, doc_id, source AS lang,
                   CAST(cum AS BIGINT) AS n_chars
            FROM (SELECT doc_id, source,
                         sum(len(regexp_split_to_array(
                             lower(trim(text)), '\\s+')))
                             OVER (PARTITION BY source
                                   ORDER BY md5(text), doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
                  FROM documents)
            WHERE cum <= 700
            UNION ALL
            -- op='dsir': the full DSIR learn->score->select replay.
            -- Feature list, bucket hash, add-1 micro-nat log-ratio and
            -- the integer per-doc sum mirror mre/textops.py
            -- _with_dsir_features/_dsir_bucket_col/dsir_bucket_lr op for
            -- op; the ROW_NUMBER <= n//5 form is exactly what
            -- topk_by_weight's histogram threshold computes.
            SELECT 'dsir' AS op, doc_id, lang,
                   CAST(w AS BIGINT) AS n_chars
            FROM (
              WITH toks AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(
                           lower(trim(text)), '\\s+'),
                           t -> t <> '') AS tk
                FROM documents),
              feats AS (
                SELECT doc_id, lang,
                       unnest(list_concat(tk,
                         list_transform(range(1, greatest(len(tk), 1)),
                                        i -> tk[i] || ' ' || tk[i+1])))
                       AS f
                FROM toks),
              bx AS (
                SELECT doc_id, lang, f,
                       CAST(('0x' || substring(md5(f), 1, 4))
                            AS INTEGER) % 256 AS b
                FROM feats),
              cnts AS (
                SELECT b, count(*) AS cr,
                       sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
                FROM bx GROUP BY b),
              tots AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM cnts),
              allb AS (
                SELECT r.range AS b, coalesce(c.cr, 0) AS cr,
                       coalesce(c.ct, 0) AS ct
                FROM range(0, 256) r LEFT JOIN cnts c ON c.b = r.range),
              lr AS (
                SELECT b,
                       CAST(floor(-ln(CAST(cr + 1 AS DOUBLE)
                            / CAST(tr + 256 AS DOUBLE)) * 1e6) AS BIGINT)
                     - CAST(floor(-ln(CAST(ct + 1 AS DOUBLE)
                            / CAST(tt + 256 AS DOUBLE)) * 1e6) AS BIGINT)
                       AS lrm
                FROM allb, tots),
              wts AS (
                SELECT d.doc_id, d.lang, coalesce(s.w, 0) AS w
                FROM documents d LEFT JOIN (
                  SELECT bx.doc_id, sum(lr.lrm) AS w
                  FROM bx JOIN lr USING (b) GROUP BY bx.doc_id) s
                USING (doc_id))
              SELECT doc_id, lang, w,
                     row_number() OVER (ORDER BY w DESC, doc_id) AS rn
              FROM wts)
            WHERE rn <= (SELECT count(*) // 5 FROM documents)
        """,
        "hash_split": """
            SELECT CASE WHEN CAST(('0x' || substring(md5(text), 1, 4))
                             AS INTEGER) < CAST(FLOOR(0.9 * 65536) AS INTEGER)
                        THEN 'train' ELSE 'test' END AS split,
                   lang, count(*) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS min_doc_id
            FROM documents GROUP BY 1, 2
        """,
        # op='ingest' replays dedup_increment stage by stage: within-batch
        # exact keep-min + fingerprint-anti vs the indexed (even) half in
        # plain SQL; the banded estimator stage comes from the MinHash
        # replay golden restricted by endpoint parity (signatures, band
        # hashes, est are per-doc/per-pair pure and the ingest threshold
        # 0.2 equals the golden's, so full-corpus pairs with one even
        # endpoint ARE the batch-vs-index hits, and odd-odd pairs among
        # survivors ARE the within-batch pairs); cluster-min resolves via
        # the same recursive CTE as dup_clusters.
        "semi_anti_join": f"""
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
            SELECT 'semi' AS op, doc_id, lang, n_chars FROM documents d
            WHERE EXISTS (SELECT 1 FROM events e
                          WHERE e.user_id = d.doc_id)
            UNION ALL
            SELECT 'anti' AS op, doc_id, lang, n_chars FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM events e
                              WHERE e.user_id = d.doc_id)
            UNION ALL
            SELECT 'ingest' AS op, doc_id, lang, n_chars FROM b3
            WHERE doc_id NOT IN (SELECT doc_id FROM losers){_P4I}
        """,
        "full_outer": """
            WITH d AS (SELECT doc_id, count(*) AS n_docs
                       FROM documents GROUP BY doc_id),
                 e AS (SELECT user_id AS doc_id, count(*) AS n_events
                       FROM events GROUP BY user_id)
            SELECT 'fo' AS op, coalesce(d.doc_id, e.doc_id) AS doc_id,
                   n_docs, n_events
            FROM d FULL OUTER JOIN e ON d.doc_id = e.doc_id
            UNION ALL
            -- op='delta': arithmetic twin of the CDX snapshot-pair
            -- fixture (_cdx_fixture): old = d%4 != 1 (+ a second
            -- same-digest capture on d%7==0), new = d%4 != 2 with the
            -- digest changed on d%5==2; the Spark side derives the
            -- same facts by READING the cdxj.gz shards and diffing
            SELECT 'delta' AS op, doc_id,
                   CAST(CASE WHEN doc_id % 4 = 1 THEN 2
                             WHEN doc_id % 4 = 2 THEN 3
                             WHEN doc_id % 5 = 2 THEN 1
                             ELSE 0 END AS BIGINT) AS n_docs,
                   CAST((CASE WHEN doc_id % 4 != 1 THEN 1 ELSE 0 END)
                      + (CASE WHEN doc_id % 4 != 1 AND doc_id % 7 = 0
                              THEN 1 ELSE 0 END)
                      + (CASE WHEN doc_id % 4 != 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_events
            FROM documents
            UNION ALL
            -- op='plan': fetchset = added (d%4=1) + changed (both
            -- present, d%5=2); robots-allow + Crawl-delay per the
            -- shared arithmetic (url_dedup op='robots'); rank = url
            -- STRING order per host; start = (rank-1)*delay_ms
            SELECT 'plan' AS op, doc_id,
                   CAST(rk AS BIGINT) AS n_docs,
                   CAST((rk - 1) * delay AS BIGINT) AS n_events
            FROM (
              SELECT doc_id,
                     row_number() OVER (PARTITION BY s ORDER BY u)
                         AS rk,
                     delay
              FROM (
                SELECT doc_id, doc_id % 20 AS s,
                       'https://www.example-' || (doc_id % 20)
                           || '.com/articles/' || doc_id AS u,
                       CASE WHEN (doc_id % 20) % 2 = 0
                            THEN (1 + (doc_id % 20) % 5) * 1000
                            WHEN (doc_id % 20) % 3 = 1
                            THEN (2 + (doc_id % 20) % 4) * 1000
                            ELSE 0 END AS delay
                FROM documents
                WHERE (doc_id % 4 = 1
                       OR (doc_id % 4 NOT IN (1, 2)
                           AND doc_id % 5 = 2))
                  AND (CASE WHEN (doc_id % 20) % 2 = 0
                            THEN (doc_id % 20) % 4 != 0
                            ELSE (doc_id % 20) % 3 != 0 END)))
        """,
        "token_stats": _token_stats_oracle_sql(),
        # round 7: lm/vocab/rep/nb tagged union. The 'lm' branches replay
        # the ENTIRE unigram-LM learn (token counts → top-V under the
        # (cnt DESC, tok ASC) total order → floor(-ln(cnt/total)*1e6)
        # micro-nats — the one float op, same IEEE sequence both
        # engines) and score (integer sum + integer division — exact,
        # order-independent).
        "quality_score": rf"""
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
                       length(regexp_replace(lower(trim(text)),
                           '\s+', '', 'g')) AS n_ns
                FROM documents),
            tok AS (
                SELECT doc_id, unnest(list_filter(toks, x -> x <> ''))
                       AS tok
                FROM t),
            c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
            tot AS (SELECT sum(cnt) AS total FROM c),
            v AS (
                SELECT tok, cnt,
                       CAST(floor(-ln(cnt::DOUBLE / total::DOUBLE) * 1e6)
                            AS BIGINT) AS nll,
                       row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
                FROM c, tot ORDER BY cnt DESC, tok LIMIT {_LM_VOCAB_TOP}),
            oov AS (
                SELECT CAST(floor(-ln(1::DOUBLE / total::DOUBLE) * 1e6)
                            AS BIGINT) AS nll
                FROM tot),
            sc AS (
                SELECT tok.doc_id, count(*) AS n,
                       sum(coalesce(v.nll, (SELECT nll FROM oov))) AS ssum
                FROM tok LEFT JOIN v USING (tok) GROUP BY tok.doc_id),
            gr AS (
                SELECT t.doc_id, nn.n,
                       unnest(list_transform(
                           generate_series(1, len(toks) - nn.n + 1),
                           i -> array_to_string(
                               list_slice(toks, i, i + nn.n - 1), ' ')))
                           AS gram
                FROM t CROSS JOIN (SELECT unnest(generate_series(2, 10))
                                   AS n) nn),
            gc AS (
                SELECT doc_id, n, gram, count(*) AS c,
                       max(length(gram)) AS l
                FROM gr GROUP BY 1, 2, 3),
            gtop AS (
                SELECT doc_id, n, c * l AS chars
                FROM (SELECT doc_id, n, c, l,
                             row_number() OVER (PARTITION BY doc_id, n
                                 ORDER BY c DESC, l DESC) AS rn
                      FROM gc WHERE n <= 4)
                WHERE rn = 1),
            gdup AS (
                SELECT doc_id, n,
                       coalesce(sum(CASE WHEN c > 1 THEN c * l END), 0)
                           AS chars
                FROM gc WHERE n >= 5 GROUP BY 1, 2),
            gch AS (SELECT * FROM gtop UNION ALL SELECT * FROM gdup),
            gbp AS (
                SELECT t.doc_id, nn.n,
                       CASE WHEN length(array_to_string(t.toks, ' ')) > 0
                            THEN coalesce(g.chars, 0) * 10000
                                 // length(array_to_string(t.toks, ' '))
                            ELSE 0 END AS char_bp,
                       CASE nn.n WHEN 2 THEN 2000 WHEN 3 THEN 1800
                            WHEN 4 THEN 1600 WHEN 5 THEN 1500
                            WHEN 6 THEN 1400 WHEN 7 THEN 1300
                            WHEN 8 THEN 1200 WHEN 9 THEN 1100
                            ELSE 1000 END AS cut
                FROM t CROSS JOIN (SELECT unnest(generate_series(2, 10))
                                   AS n) nn
                LEFT JOIN gch g ON g.doc_id = t.doc_id AND g.n = nn.n),
            gp AS (
                SELECT doc_id, n, char_bp,
                       CAST(char_bp <= cut AS BIGINT) AS pass_rule
                FROM gbp),
            gv AS (
                SELECT doc_id, CAST(min(pass_rule) = 1 AS BIGINT)
                       AS battery
                FROM gp GROUP BY doc_id),
            nbt AS (
                SELECT t.doc_id,
                       CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                       unnest(list_filter(t.toks, x -> x <> '')) AS tok
                FROM t JOIN documents d ON d.doc_id = t.doc_id),
            nbc AS (
                SELECT tok,
                       sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c0,
                       sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c1
                FROM nbt GROUP BY tok),
            nbm AS (
                SELECT sum(c0) AS t0, sum(c1) AS t1,
                       least(count(*), {_LM_VOCAB_TOP}) AS v
                FROM nbc),
            nbn AS (
                SELECT sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                           AS n0,
                       sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                           AS n1
                FROM documents),
            nbv AS (
                SELECT tok,
                       CAST(floor(-ln((c1 + 1)::DOUBLE
                                      / (t1 + v + 1)::DOUBLE) * 1e6)
                            AS BIGINT)
                       - CAST(floor(-ln((c0 + 1)::DOUBLE
                                        / (t0 + v + 1)::DOUBLE) * 1e6)
                              AS BIGINT) AS delta
                FROM nbc, nbm
                ORDER BY (c0 + c1) DESC, tok LIMIT {_LM_VOCAB_TOP}),
            nboov AS (
                SELECT CAST(floor(-ln(1::DOUBLE
                                      / (t1 + v + 1)::DOUBLE) * 1e6)
                            AS BIGINT)
                       - CAST(floor(-ln(1::DOUBLE
                                        / (t0 + v + 1)::DOUBLE) * 1e6)
                              AS BIGINT) AS delta
                FROM nbm),
            nbpr AS (
                SELECT CAST(floor(-ln(n1::DOUBLE
                                      / (n0 + n1)::DOUBLE) * 1e6)
                            AS BIGINT)
                       - CAST(floor(-ln(n0::DOUBLE
                                        / (n0 + n1)::DOUBLE) * 1e6)
                              AS BIGINT) AS delta
                FROM nbn),
            nbs AS (
                SELECT nbt.doc_id, count(*) AS n,
                       sum(coalesce(nbv.delta,
                                    (SELECT delta FROM nboov))) AS s
                FROM nbt LEFT JOIN nbv USING (tok)
                GROUP BY nbt.doc_id)
            SELECT 'lm' AS op, d.doc_id AS doc_id,
                   coalesce(sc.n, 0) AS n_tokens,
                   NULL::DOUBLE AS stopword_ratio,
                   NULL::DOUBLE AS mean_token_len,
                   CAST(sc.ssum // sc.n AS BIGINT) AS quality_bp
            FROM documents d LEFT JOIN sc USING (doc_id)
            UNION ALL
            SELECT 'vocab', rnk, cnt, NULL::DOUBLE, NULL::DOUBLE, nll
            FROM v
            UNION ALL
            SELECT 'rep', gp.doc_id, gp.n::BIGINT,
                   gp.pass_rule::DOUBLE, gv.battery::DOUBLE,
                   gp.char_bp::BIGINT
            FROM gp JOIN gv USING (doc_id)
            UNION ALL
            SELECT 'nb', d.doc_id, coalesce(nbs.n, 0),
                   CAST(CAST(((SELECT delta FROM nbpr)
                              + coalesce(nbs.s, 0)) <= 0 AS INTEGER)
                        AS DOUBLE),
                   NULL::DOUBLE,
                   CAST((SELECT delta FROM nbpr)
                        + coalesce(nbs.s, 0) AS BIGINT)
            FROM documents d LEFT JOIN nbs ON nbs.doc_id = d.doc_id
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
            WITH rg AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS t
                FROM documents),
            gr AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                           i -> t[i] || ' ' || t[i + 1])) AS gram
                FROM rg WHERE len(t) >= 2),
            pg AS (
                SELECT doc_id, gram, count(*) AS c
                FROM gr GROUP BY 1, 2),
            rep AS (
                SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c,
                       CAST(sum(c) AS BIGINT) AS total_c
                FROM pg GROUP BY doc_id),
            t AS (
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
                    AND (n_stop >= 2))::INT AS keep,
                   coalesce(rep.total_c, 0) AS n_ngrams,
                   coalesce(rep.top_c * 10000 // rep.total_c, 0)
                       AS top_ngram_bp,
                   (coalesce(rep.top_c * 10000 // rep.total_c, 0)
                    <= 1800)::INT AS pass_repetition,
                   (((n_words >= 50 AND n_words <= 100000)
                     AND (n_ns / n1 >= 3.0 AND n_ns / n1 <= 10.0)
                     AND (n_sym / n1 <= 0.1)
                     AND (n_alpha / n1 >= 0.8)
                     AND (n_stop >= 2))
                    AND coalesce(rep.top_c * 10000 // rep.total_c, 0)
                        <= 1800)::INT AS keep_strict
            FROM m LEFT JOIN rep ON rep.doc_id = m.doc_id
        """,
        # Every queries() entry has an oracle above — the hash-dependent
        # ones (extract_flagship, minhash, lineage_rollup)
        # via golden parquets from mre/fixtures.py + mre/oracle_replay.py;
        # everything else as direct DuckDB SQL.
    }
