"""The extraction pipeline: pages table -> results + metrics, resumably.

DataFrame-level shape (SURVEY.md §2.9, §3 E1):

    pages(url, warc_ts, html, text, lang)
      -> latest-snapshot dedup        (window by url, newest warc_ts)
      -> route                        (kind = pdf | html, by magic bytes)
      -> salted url-hash repartition  (explicit skew handling: the salt
                                       decorrelates giant documents from
                                       url-hash hotspots; AQE only fixes
                                       join/agg skew, not UDF compute skew)
      -> extract                      (Arrow-batched pandas UDF running
                                       core.extract.extract_document per
                                       payload INSIDE the batch loop; zero
                                       per-row Python dispatch at Spark level)
      -> results                      (url, page_no, text, spans, parser,
                                       error) exploded per page
      -> metrics                      (per work-bucket lineage: docs, pages,
                                       drops, decode failures, fallbacks)

Resumability: work is keyed by a deterministic ``bucket`` = pmod(xxhash64(
url), n_buckets).  Completed buckets are committed to a checkpoint table;
a restart left-anti-joins pages against it, re-processing only missing
buckets.  On Iceberg the same layout maps to ``bucket(N, url)`` partition
transforms with per-partition appends; here the sink is parquet
partitioned by bucket so the mechanism is identical and testable locally.
"""

from __future__ import annotations

import contextlib
import json

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

_EXTRACT_FIELDS = [
    T.StructField("pages", T.ArrayType(T.StringType())),
    # per page: list of (page, start, end, x, y) span records, kept as a
    # NATIVE nested array (Arrow list<list<list<double>>>): no driver-side
    # json.dumps and no JVM from_json re-parse on the hot path
    T.StructField(
        "spans_raw", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))
    ),
    T.StructField("parser", T.StringType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("pages_dropped", T.IntegerType()),
    T.StructField("decode_failures", T.IntegerType()),
    T.StructField("fallbacks", T.IntegerType()),
    T.StructField("error", T.StringType()),
]
EXTRACT_STRUCT = T.StructType(_EXTRACT_FIELDS)

RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.LongType()),
                        T.StructField("end", T.LongType()),
                        T.StructField("x", T.DoubleType()),
                        T.StructField("y", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField("parser", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


import os as _os

_PKG_ROOT = _os.path.dirname(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
)


def _make_extract_batch(pkg_root: str, columns: list,
                        extended_filters: bool = False):
    """Factory: the returned closure is cloudpickled BY VALUE (module-level
    functions are pickled by reference and would require the package to be
    importable on the worker before any code of ours runs).  The closure
    bootstraps sys.path on local-mode workers whatever the driver's CWD;
    real clusters ship the package via --py-files."""

    def _extract_batch(html):
        import sys as _sys

        import pandas as _pd

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        from pypdfproc_spark.core.extract import extract_document

        # set the worker-process global in BOTH directions: Spark reuses
        # Python workers across tasks, so an extended-mode batch would
        # otherwise leave reused workers permanently in extended mode and
        # silently break the strict byte-parity default of later batches
        from pypdfproc_spark.core import filters as _filters

        _filters.EXTENDED_FILTERS = extended_filters

        # lone-surrogate -> U+FFFD boundary rule: the SHARED helper
        # (core/extract.py utf8_safe) also used by the expectations twin
        # and the golden-parity test — one definition, no drift
        from pypdfproc_spark.core.extract import utf8_safe as _utf8_safe

        rows = []
        for payload in html:
            r = extract_document(payload)
            rows.append(
                (
                    [_utf8_safe(p) for p in r.pages],
                    # tuples -> lists; Arrow casts the int fields to double
                    [[list(s) for s in page] for page in r.spans],
                    r.parser,
                    r.n_pages,
                    r.pages_dropped,
                    r.decode_failures,
                    r.fallbacks,
                    r.error,
                )
            )
        return _pd.DataFrame(rows, columns=columns)

    return _extract_batch


# -----------------------------------------------------------------------------
# pipeline stages (each is a pure DataFrame -> DataFrame function)


def latest_snapshot(pages: DataFrame) -> DataFrame:
    """Keep the newest capture per url (reference analog: newest-wins
    incremental-update resolution, generalized across documents)."""
    # tie-break on the payload hash: two captures with equal warc_ts must
    # pick a deterministic winner or resume/idempotence and any byte-level
    # output hash break (mirrors the event_id tiebreak in
    # textops.latest_snapshot_events).  xxhash64, not md5: the sort key is
    # evaluated for EVERY row's payload, and at corpus scale a
    # cryptographic hash per MB payload is pure waste (the pure-Python
    # oracle twin, fixtures/freeze_expectations.py, implements the same
    # xxh64 from spec)
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.xxhash64("html").desc()
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def route(pages: DataFrame) -> DataFrame:
    """Content-type router on magic bytes (no trust in upstream headers).

    Mirrors core.extract.is_pdf (r05): the reference's ParseHeader
    accepts non-EOL unicode whitespace before %PDF- on the first line,
    so the router must too — decode the head latin-1 (1:1 bytes ->
    codepoints) and regex-match the same prefix class JVM-side."""
    head = F.decode(F.substring(F.col("html"), 1, 256), "ISO-8859-1")
    is_pdf = head.rlike("^[\\t\\x0B\\f\\x1C-\\x1F \\x85\\xA0]*%PDF-")
    return pages.withColumn("kind", F.when(is_pdf, "pdf").otherwise("html"))


def with_bucket(pages: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Deterministic work/checkpoint bucket by url hash (Iceberg
    bucket(N, url) analog)."""
    return pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def salted_repartition(
    pages: DataFrame, partitions: int = 32, salts: int = 4,
    big_doc_bytes: int = 1 << 20,
) -> DataFrame:
    """Explicit skew handling for the UDF map stage.

    - base key: url hash (keeps a url's work co-located and deterministic)
    - salt: oversized payloads get a per-row salt so a burst of giant
      documents sharing a hash bucket cannot serialize onto one task
    """
    salt = F.when(
        F.length("html") > big_doc_bytes,
        F.pmod(F.xxhash64("url", "warc_ts"), F.lit(partitions * salts)),
    ).otherwise(F.pmod(F.xxhash64("url"), F.lit(partitions)))
    return pages.withColumn("_salt", salt).repartition(
        partitions, "_salt"
    ).drop("_salt")


def spread_giants(
    pages: DataFrame, partitions: int = 32, big_doc_bytes: int = 1 << 20,
) -> DataFrame:
    """Skew handling WITHOUT re-shuffling the whole payload (kept as an
    alternative; NOT the default on any path since r03).

    The idea: the normal-size majority keeps its upstream partitioning and
    only oversized payloads move.  The catch, measured in
    tools/ab_extract.py: the union of two filters recomputes the ENTIRE
    upstream plan per branch (2 scans, 2 window sorts, no ReusedExchange),
    so it loses to one salted shuffle on unbucketed inputs and to no
    redistribution at all on bucketed layouts.  Only worth it when the
    upstream is a cheap re-scannable source AND a second shuffle is
    unaffordable."""
    # coalesce: length(NULL) is NULL, which fails BOTH filters — a null
    # payload row must stay in the normal branch (and reach the extractor's
    # typed 'null payload' error), never silently vanish
    is_giant = F.coalesce(F.length("html"), F.lit(0)) > big_doc_bytes
    normals = pages.filter(~is_giant)
    giants = pages.filter(is_giant).repartition(partitions)
    return normals.unionAll(giants)


def extract(pages: DataFrame, extended_filters: bool = False) -> DataFrame:
    """Run the per-document extractor; one row out per input document.

    The MB-scale binary payload is dropped immediately after the UDF (only
    its length survives, for metrics) so any downstream persist/shuffle
    carries kilobytes per row, not megabytes.

    ``extended_filters``: opt out of strict filter parity — decode
    LZW/ASCIIHex/ASCII85/RunLength/filter-chain streams the reference
    drops (more yield, no longer byte-identical per url on those docs)."""
    # a new UDF per call: a UDF object builds its JVM twin on first use
    # and keeps it, and the twin holds the accumulator handle of the
    # SparkContext active then; a module-level UDF would send a later
    # context's accumulator updates to a stopped one's closed socket
    udf = F.pandas_udf(
        _make_extract_batch(_PKG_ROOT, [f.name for f in _EXTRACT_FIELDS],
                            extended_filters=extended_filters),
        returnType=EXTRACT_STRUCT,
    )
    return (
        pages.withColumn("doc", udf(F.col("html")))
        .withColumn("bytes_in", F.length("html"))
        .drop("html", "text")
    )


def results(extracted: DataFrame) -> DataFrame:
    """Explode per-document page arrays into the results table shape."""
    ex = extracted.select(
        "url",
        "bucket",
        F.col("doc.parser").alias("parser"),
        F.col("doc.error").alias("error"),
        F.col("doc.pages").alias("pages"),
        F.col("doc.spans_raw").alias("spans_all"),
    )

    exploded = ex.select(
        "url",
        "bucket",
        "parser",
        "error",
        F.posexplode_outer("pages").alias("page_no", "text"),
        "spans_all",
    )
    span_struct = F.transform(
        F.element_at("spans_all", F.col("page_no") + 1),
        lambda s: F.struct(
            s[1].cast("long").alias("start"),
            s[2].cast("long").alias("end"),
            s[3].alias("x"),
            s[4].alias("y"),
        ),
    )
    return exploded.select(
        "url",
        "bucket",
        "page_no",
        "text",
        span_struct.alias("spans"),
        "parser",
        "error",
    )


def metrics(extracted: DataFrame) -> DataFrame:
    """Per-bucket lineage + extraction metrics (north_star: pages parsed,
    decode failures, fallback rate).  Partial aggregation (map-side combine)
    is free from Catalyst for these hash aggregates."""
    return extracted.groupBy("bucket").agg(
        F.count("*").alias("docs"),
        F.sum("doc.n_pages").alias("pages_parsed"),
        F.sum("doc.pages_dropped").alias("pages_dropped"),
        F.sum("doc.decode_failures").alias("decode_failures"),
        F.sum("doc.fallbacks").alias("fallbacks"),
        F.avg(
            ((F.col("doc.fallbacks") + F.col("doc.decode_failures")) > 0)
            .cast("int")
        ).alias("fallback_rate"),
        F.sum("bytes_in").alias("bytes_in"),
    )


def run_pipeline(
    pages: DataFrame,
    n_buckets: int = 64,
    partitions: int = 32,
    dedup: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline; returns (results_df, metrics_df).

    Skew policy (measured at two scales, tools/ab_extract.py +
    tools/ab_scaling.py, r03): when the dedup window runs, extraction
    consumes the window's own hash(url) distribution DIRECTLY — no
    redistribution.  At 500k docs (repl=100) that is both the fastest
    wall at every parallelism (local[8] 39.3 s / local[32] 12.4 s vs
    salted 77.1/29.9 and spread_giants 45.5/14.0) and near-ideal 8->32
    scaling (0.795 raw, above the measured hardware ceiling): a second
    full payload shuffle (salted) is a disk-bound, thread-insensitive
    stage that halves throughput and caps efficiency at 0.64, and the
    union-of-filters spread recomputes scan+sort+window per branch.
    Giant-doc balance comes from the window shuffle itself (url-hash
    over shuffle.partitions) plus AQE coalescing; at repl=10 the
    variants are within noise of each other (4.0-4.6 s).

    Without dedup there is no upstream shuffle, so the explicit
    salted_repartition remains: one payload shuffle that spreads giants
    and evens task sizes before the UDF (the north-star's explicit
    salting)."""
    if dedup:
        df = with_bucket(route(latest_snapshot(pages)), n_buckets)
    else:
        df = with_bucket(route(pages), n_buckets)
        df = salted_repartition(df, partitions)
    ex = extract(df)
    # extraction runs once; both outputs read the exploded/aggregated views
    return results(ex), metrics(ex)


# -----------------------------------------------------------------------------
# bucketed layout: the shuffle-free dedup path


def write_pages_bucketed(pages: DataFrame, table: str,
                         n_buckets: int = 64) -> None:
    """Persist the pages table BUCKETED BY url (parquet ``bucketBy`` via the
    session catalog locally; Iceberg ``bucket(N, url)`` in production).

    Why: the latest-snapshot window partitions by url, and on an unbucketed
    input that window shuffles the FULL MB-scale payloads — at 100 TB the
    dominant byte-mover of the whole pipeline (docs/PLANS.md).  A scan of a
    url-bucketed table already satisfies the window's clustering
    requirement, so Catalyst plans Scan -> Sort -> Window with NO Exchange:
    payload bytes never cross the network (verified by
    tests/test_pipeline_spark.py::test_bucketed_dedup_has_no_exchange and
    the captured plan in docs/PLANS.md)."""
    spark = pages.sparkSession
    # a PREVIOUS session's managed table leaves an orphaned warehouse dir
    # the in-memory catalog no longer knows about; creation then fails with
    # LOCATION_ALREADY_EXISTS.  Drop both the catalog entry and the
    # location.  (Iceberg/Hive catalogs persist metadata, so this local
    # housekeeping does not apply there.)
    spark.sql("DROP TABLE IF EXISTS %s" % table)
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    if wh and "/" not in table:
        import shutil as _shutil

        loc = _os.path.join(wh, table.lower())
        # only delete what LOOKS like an orphaned Spark table directory
        # (_SUCCESS / part files / empty) — a user-set SPARK_WAREHOUSE_DIR
        # colliding with unrelated data must never be silently destroyed
        if _os.path.isdir(loc):
            entries = _os.listdir(loc)
            looks_like_table = not entries or any(
                e == "_SUCCESS" or e.startswith("part-") or e.startswith(".part-")
                for e in entries
            )
            if looks_like_table:
                _shutil.rmtree(loc, ignore_errors=True)
    (
        pages.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "url")
        .sortBy("url")
        .saveAsTable(table)
    )


def run_pipeline_bucketed(
    spark: SparkSession,
    table: str,
    n_buckets: int = 64,
    partitions: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """run_pipeline over a url-bucketed pages table: identical semantics,
    with ZERO payload exchange end-to-end — the bucketed scan satisfies
    the dedup window's clustering, and no redistribution follows (plan:
    Scan -> Sort -> Window -> UDF -> explode, no Exchange anywhere).

    Giant-document skew on this path is handled by the LAYOUT, not a
    shuffle: url-hash bucketing spreads giants across the n_buckets scan
    partitions, and at corpus scale the bucket count is sized so one
    bucket's payload fits a task (Iceberg bucket(N, url) with larger N).
    Measured (tools/ab_extract.py r03, repl=10 medians): direct 3.31 s <
    spread_giants 4.36 s (union recomputes the scan+sort+window per
    branch) < salted 5.13 s (a full shuffle forfeits the zero-Exchange
    win)."""
    df = with_bucket(route(latest_snapshot(spark.table(table))), n_buckets)
    ex = extract(df)
    return results(ex), metrics(ex)


# -----------------------------------------------------------------------------
# checkpoint / resume


def committed_buckets(spark: SparkSession, checkpoint_path: str) -> DataFrame:
    """The committed bucket ids.  A missing checkpoint means none are
    committed; any other read error (a corrupt checkpoint file) raises
    rather than silently re-processing every bucket.  The explicit schema
    skips the schema-inference job, and the empty result is a JVM-only
    Range, so neither branch starts a Python task."""
    try:
        df = spark.read.schema("bucket int").parquet(checkpoint_path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        df = spark.range(0).select(F.col("id").cast("int").alias("bucket"))
    return df.distinct()


def resume_filter(
    pages_bucketed: DataFrame, spark: SparkSession, checkpoint_path: str
) -> DataFrame:
    """Left-anti join against committed buckets: a restarted job processes
    only unfinished work (the Iceberg-checkpoint analog, SURVEY.md §2.9)."""
    done = committed_buckets(spark, checkpoint_path)
    return pages_bucketed.join(F.broadcast(done), "bucket", "left_anti")


@contextlib.contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    """Set a SQL conf for the enclosed calls only."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    results_path: str,
    checkpoint_path: str,
    metrics_path: str | None = None,
    n_buckets: int = 64,
) -> None:
    """Resumable run: skip committed buckets, write results/metrics with
    DYNAMIC partition overwrite keyed by bucket, then commit the buckets.

    One extraction pass in four steps:

    1. collect the committed bucket ids to the driver; if they cover all
       ``n_buckets``, return without reading ``pages``;
    2. filter ``pages`` to the remaining buckets by that id list (the
       filter reaches below the dedup window, so committed payloads are
       not shuffled), extract them and persist the result;
    3. persist the metrics aggregate over it; checking it for emptiness
       materializes both caches, and an empty one (every remaining
       bucket holds no pages) ends the run;
    4. write results from the cached extraction, then metrics and the
       checkpoint from the cached metrics.

    Both persists run with ``canChangeCachedPlanOutputPartitioning`` on:
    a cached plan's output partitioning is fixed when ``persist()`` builds
    it, and with the conf off AQE may not coalesce the dedup window's
    ``spark.sql.shuffle.partitions`` under the cache, so a small run
    pays one Python task per shuffle partition and writes one file per
    shuffle partition and bucket.  The conf is scoped to the persist
    calls; other cached queries keep the session's setting.

    Idempotence under mid-run failure: a crash AFTER the results write but
    BEFORE the checkpoint commit means the restart re-processes those
    buckets — with dynamic overwrite the rewritten bucket partitions
    REPLACE the orphaned ones instead of appending duplicate rows (the
    exact failure window resume exists to cover).  On Iceberg the same
    contract is the atomic REPLACE of bucket(N, url) partitions."""
    done = {r.bucket for r in
            committed_buckets(spark, checkpoint_path).collect()}
    if done >= set(range(n_buckets)):
        return
    # dedup window upstream -> keep its distribution (r03 skew policy)
    todo = with_bucket(route(latest_snapshot(pages)), n_buckets)
    if done:
        todo = todo.filter(~F.col("bucket").isin(sorted(done)))
    with _session_conf(
        spark, "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true",
    ):
        ex = extract(todo).persist()
        m = metrics(ex).persist()
    try:
        if m.isEmpty():
            return
        with _session_conf(
            spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"
        ):
            results(ex).write.mode("overwrite").partitionBy("bucket").parquet(
                results_path
            )
            if metrics_path:
                m.withColumn("committed_ts", F.current_timestamp()).write.mode(
                    "overwrite"
                ).partitionBy("bucket").parquet(metrics_path)
        m.select("bucket").write.mode("append").parquet(checkpoint_path)
    finally:
        m.unpersist()
        ex.unpersist()


# -----------------------------------------------------------------------------
# Composed LLM-corpus pipeline over extraction OUTPUT (r05): a real 100 TB
# run chains extract -> exact-dedup -> quality funnel over the EXTRACTED
# text, not over a pre-made documents table.  These operate on the
# results() row shape (url, page_no, text, parser, ...) and are
# oracle-gated against the frozen pure-Python extraction twin
# (fixtures/expectations) with the same funnel expressed in DuckDB SQL.

QUALITY_MIN_LEN = 40
QUALITY_MIN_SPACES = 4


def doc_texts(res: DataFrame) -> DataFrame:
    """Per-document text from extraction rows: pages '\\n'-joined in
    page order.  (url, doc_text, n_pages).  Documents whose every page
    dropped (the posexplode_outer null row) have no non-null pages and
    produce no row here.

    Scale shape: one hash-agg on url (the pipeline's existing
    partitioning key — zero extra Exchange on the bucketed path);
    array_sort(collect_list(struct)) keeps the join-order deterministic
    without a window."""
    return (
        res.where(F.col("page_no").isNotNull())
        .groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("page_no", "text"))),
                    lambda x: x["text"],
                ),
                "\n",
            ).alias("doc_text"),
            F.count("*").cast("long").alias("n_pages"),
        )
    )


def dedup_funnel_survivors(res: DataFrame) -> DataFrame:
    """extract -> exact-dedup -> quality filter, composed: the lowest url
    of each identical-text group survives, then the cheap quality gate
    (length + whitespace-token floor) drops boilerplate shards.
    Returns (url, n_pages, doc_len, doc_md5).

    Scale shape: md5 hash-agg (min_by representative — map-side partial)
    then a pure projection filter; no joins, no window, no pairwise
    stage."""
    doc = doc_texts(res).where(F.length("doc_text") > 0)
    uniq = (
        doc.withColumn("doc_md5", F.md5(F.col("doc_text").cast("binary")))
        .groupBy("doc_md5")
        .agg(
            F.min("url").alias("url"),
            F.min_by("n_pages", "url").alias("n_pages"),
            F.min_by(F.length("doc_text").cast("long"), "url").alias(
                "doc_len"),
            F.min_by("doc_text", "url").alias("doc_text"),
        )
    )
    spaces = F.length("doc_text") - F.length(F.translate("doc_text", " ", ""))
    return (
        uniq.where(
            (F.col("doc_len") >= QUALITY_MIN_LEN)
            & (spaces >= QUALITY_MIN_SPACES)
        )
        .select("url", "n_pages", "doc_len", "doc_md5")
    )


def dedup_funnel_counts(res: DataFrame) -> DataFrame:
    """Stage-by-stage funnel over extraction output:
    extracted_docs -> docs_with_text -> unique_docs -> quality_pass.
    One row per stage (stage, n).

    Scale shape: each stage is a count over the previous projection —
    Spark computes them as independent aggregates here (clarity for the
    oracle); a production variant would fuse them into one conditional
    agg pass like textops.quality_filter_funnel."""
    spark = res.sparkSession
    total = res.select("url").distinct().count()
    doc = doc_texts(res).where(F.length("doc_text") > 0).persist()
    with_text = doc.count()
    uniq = doc.withColumn(
        "doc_md5", F.md5(F.col("doc_text").cast("binary"))
    ).select("doc_md5").distinct().count()
    survivors = dedup_funnel_survivors(res).count()
    doc.unpersist()
    rows = [
        ("extracted_docs", total),
        ("docs_with_text", with_text),
        ("unique_docs", uniq),
        ("quality_pass", survivors),
    ]
    return spark.createDataFrame(rows, "stage string, n long")
