"""The three perfbench workloads.

Each workload generates its input from the seed, computes the expected
output without Spark, prepares untimed state in a session, runs one
timed job and checks that job's output.  A failed check raises
CheckFailed.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.tracing import Tracer, now, traced_core
# the oracle comparison's normalization, shared with the parity tests
from tests.test_oracle_parity import _norm_rows

DEDUP_OPS = [
    ("textops", "dedup_minhash_lsh"),
    ("textops", "dedup_simhash"),
    ("textops", "dedup_simhash_pairs"),
    ("textops", "dedup_verified"),
    ("textops", "dedup_components"),
    ("similarity", "dedup_embedding_cosine"),
    ("similarity", "ann_ivf_topk"),
    ("textops", "quality_filter_funnel"),
]
# the operator chains of the corpus job: the named argument of the
# second operator takes the first one's persisted result, as a session
# running both would pass it (textops.dedup_simhash_pairs(sim=...),
# textops.dedup_components(pairs=...))
CHAINED = {"dedup_simhash_pairs": ("sim", "dedup_simhash"),
           "dedup_components": ("pairs", "dedup_verified")}
CORE_SAMPLE = 300


class CheckFailed(Exception):
    pass


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _md5(text):
    return None if text is None else hashlib.md5(text.encode()).hexdigest()


def _row_key(r):
    return (r[0], -1 if r[1] is None else r[1])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def latest_payloads(path: str) -> list[tuple[str, bytes]]:
    """Newest capture per url (the generators never tie on warc_ts)."""
    best: dict[str, tuple] = {}
    t = pq.read_table(path, columns=["url", "warc_ts", "html"])
    cols = (t.column(c).to_pylist() for c in t.column_names)
    for url, ts, html in zip(*cols):
        if url not in best or ts > best[url][0]:
            best[url] = (ts, html)
    return sorted((u, v[1]) for u, v in best.items())


class Workload:
    """A workload's seeded input under ``run_dir``, and the hooks the run
    calls around its timed job (no-ops unless a workload needs them)."""

    name = ""
    extracts = True     # runs the extraction UDF (core and UDF layers)
    # the timed window: after warmup_jobs untimed jobs, at least min_jobs.
    # On a 4-vCPU host the job wall still fell 10-20% per job over the
    # first five while the JIT compiled, and the host's speed drifted by
    # tens of percent within minutes; the median of three drops one
    # disturbed job.  More warm-ups would sit the window further along
    # the JIT curve, but a run must stay near a minute so that 4 + 22
    # runs per workload fit in an hour
    warmup_jobs = 1
    min_jobs = 3

    def __init__(self, seed: int, run_dir: str):
        self.seed, self.run_dir = seed, run_dir
        self.input_dir = os.path.join(run_dir, "input")

    def generate(self) -> None:
        self.info = gen.GENERATORS[self.name](self.seed, self.input_dir)
        self.docs = self.info["docs"]

    def setup_artifacts(self, spark) -> None:
        """Build what the job needs before it is timed (part of set-up)."""

    def prepare(self, spark) -> None:
        """Untimed per-session state (not part of set-up)."""

    def done(self, it: int) -> None:
        """Called after job ``it`` has been checked."""

    def info_metrics(self) -> dict:
        return {}


class Extraction(Workload):
    """Shared by pdf_extract and crawl_resume: the expected results rows
    come from core.extract.extract_document + utf8_safe in this process,
    the same function the Spark UDF runs."""

    def __init__(self, seed: int, run_dir: str):
        super().__init__(seed, run_dir)
        self.n_buckets = gen.workload_spec(self.name)["n_buckets"]

    def expect(self) -> None:
        from pypdfproc_spark.core.extract import (extract_document, is_pdf,
                                                  utf8_safe)

        self.payloads = latest_payloads(self.input_dir)
        rows, errors = [], set()
        self.core_s = {"pdf": [0.0, 0], "html": [0.0, 0]}
        self.counts = {"pages_dropped": 0, "decode_failures": 0,
                       "fallbacks": 0, "pages": 0}
        for url, payload in self.payloads:
            t0 = now()
            r = extract_document(payload)
            acc = self.core_s["pdf" if is_pdf(payload) else "html"]
            acc[0] += now() - t0
            acc[1] += 1
            if r.error is not None:
                errors.add(url)
            for k in ("pages_dropped", "decode_failures", "fallbacks"):
                self.counts[k] += getattr(r, k)
            self.counts["pages"] += r.n_pages
            if not r.pages:
                rows.append((url, None, None))
            rows += [(url, i, _md5(utf8_safe(p))) for i, p in
                     enumerate(r.pages)]
        self.rows = sorted(rows, key=_row_key)
        self.errors = errors
        _check(errors == set(self.info["corrupt_urls"]),
               "in-process error docs differ from the generated corrupt docs")

    def check_rows(self, rows, errors) -> None:
        _check(len(rows) == len(self.rows), "results row count %d != %d"
               % (len(rows), len(self.rows)))
        _check(sorted(rows, key=_row_key) == self.rows,
               "results (url, page_no, md5(text)) digest differs")
        _check(errors == self.errors, "error docs differ")

    def core_sample_metrics(self) -> dict:
        """Phase self-times over a seeded sample, spans on."""
        from pypdfproc_spark.core.extract import extract_document

        sample = random.Random(self.seed).sample(
            self.payloads, min(CORE_SAMPLE, len(self.payloads)))
        tracer = Tracer("core-%s-%d" % (self.name, self.seed))
        counters = {"bytes_inflated": 0}
        with traced_core(tracer, counters):
            for url, payload in sample:
                with tracer.span("core.extract_document", trace=url):
                    extract_document(payload)
        self.core_tracer = tracer
        tot = tracer.totals("core.")
        per_doc = lambda k: tot.get(k, 0.0) * 1000.0 / len(sample)  # noqa
        return {
            "core.cos.parse_ms": per_doc("core.cos.parse"),
            "core.filters.decode_ms": per_doc("core.filters.decode"),
            "core.filters.bytes_inflated":
                counters["bytes_inflated"] / len(sample),
            "core.content.tokenize_ms": per_doc("core.content.tokenize"),
            "core.interp.self_ms": per_doc("core.interp.run"),
            "core.htmltext.ms": per_doc("core.htmltext"),
        }

    def info_metrics(self) -> dict:
        return {"error_doc_frac": len(self.errors) / len(self.payloads)}

    def core_metrics(self) -> dict:
        rate = lambda k: (self.core_s[k][1] / self.core_s[k][0]  # noqa
                          if self.core_s[k][0] else 0.0)
        return {
            "core.extract.pdf_docs_per_s": rate("pdf"),
            "core.extract.html_docs_per_s": rate("html"),
            "core.fonts.fallbacks": self.counts["fallbacks"],
            "core.pages_dropped": self.counts["pages_dropped"],
            "core.decode_failures": self.counts["decode_failures"],
        }

    def core_total_s(self) -> float:
        return self.core_s["pdf"][0] + self.core_s["html"][0]

    def udf_input(self, spark):
        """The extract UDF's input DataFrame, as the workload's pipeline
        builds it."""
        from pypdfproc_spark.spark import pipeline as P

        return P.with_bucket(P.route(P.latest_snapshot(self.pages(spark))),
                             self.n_buckets)

    def layer_jobs(self, spark, timed) -> dict:
        """UDF-boundary decomposition: scan-only, identity pandas_udf and
        the real extract UDF over the same input, each to a noop sink."""
        from pyspark.sql import functions as F

        from pypdfproc_spark.spark import pipeline as P

        ident = F.pandas_udf(lambda s: s, "binary")
        df = self.udf_input(spark)
        med = {}
        for label, job in (
            ("scan", lambda: _noop(df)),
            ("identity", lambda: _noop(df.select(ident("html")))),
            ("extract", lambda: _noop(P.extract(df))),
        ):
            med[label] = statistics.median(
                timed("udf." + label, job) for _ in range(3))
        timed("latest_snapshot", lambda: _noop(P.latest_snapshot(
            self.pages(spark))))
        boundary = med["identity"] - med["scan"]
        extract = med["extract"] - med["scan"]
        cores = spark.sparkContext.defaultParallelism
        return {
            "pipeline.udf.boundary_s": boundary,
            "pipeline.udf.extract_s": extract,
            "pipeline.udf.core_share":
                self.core_total_s() / cores / extract if extract > 0 else 0.0,
            "_scan_s": med["scan"],
        }


class PdfExtract(Extraction):
    name = "pdf_extract"
    table = "perfbench_pages"

    def pages(self, spark):
        return spark.table(self.table)

    def prepare(self, spark) -> None:
        from pypdfproc_spark.spark import pipeline as P

        P.write_pages_bucketed(spark.read.parquet(self.input_dir), self.table,
                               self.n_buckets)

    def job(self, spark, it: int):
        from pyspark.sql import functions as F

        from pypdfproc_spark.spark import pipeline as P

        res, _ = P.run_pipeline_bucketed(spark, self.table, self.n_buckets)
        md5 = F.md5(F.col("text").cast("binary"))
        return res.select("url", "page_no", md5,
                          F.col("error").isNotNull()).collect()

    def check(self, out) -> None:
        self.check_rows([tuple(r[:3]) for r in out],
                        {r[0] for r in out if r[3]})


class CrawlResume(Extraction):
    name = "crawl_resume"

    def pages(self, spark):
        return spark.read.parquet(self.input_dir)

    def _dirs(self, it: int) -> dict:
        base = os.path.join(self.run_dir, "out-%d" % it)
        return {k: os.path.join(base, k)
                for k in ("results", "metrics", "checkpoint")}

    def job(self, spark, it: int):
        from pypdfproc_spark.spark import pipeline as P

        d = self._dirs(it)
        P.run_resumable(spark, self.pages(spark), d["results"],
                        d["checkpoint"], d["metrics"],
                        n_buckets=self.n_buckets)
        return it

    def check(self, it) -> None:
        d = self._dirs(it)
        t = pq.read_table(d["results"], columns=["url", "page_no", "text",
                                                 "error"])
        url, page_no, text, err = (t.column(c).to_pylist() for c in
                                   ("url", "page_no", "text", "error"))
        self.check_rows(
            [(u, p, _md5(x)) for u, p, x in zip(url, page_no, text)],
            {u for u, e in zip(url, err) if e is not None})
        m = pq.read_table(d["metrics"], columns=["bucket", "docs",
                                                 "pages_parsed"])
        _check(sum(m.column("docs").to_pylist()) == self.docs,
               "metrics docs total != input docs")
        _check(sum(m.column("pages_parsed").to_pylist())
               == self.counts["pages"], "metrics pages_parsed total differs")
        done = set(pq.read_table(d["checkpoint"]).column("bucket").to_pylist())
        _check(done == set(range(self.n_buckets)) ==
               set(m.column("bucket").to_pylist()),
               "checkpoint does not hold every bucket")

    def written(self, it: int) -> tuple[int, int]:
        files = [os.path.join(r, f) for p in self._dirs(it).values()
                 for r, _, fs in os.walk(p) for f in fs]
        return len(files), sum(os.path.getsize(f) for f in files)

    def restart(self, spark, it: int) -> float:
        """Re-run with every bucket committed; nothing may be rewritten."""
        before = self.written(it)
        t0 = now()
        self.job(spark, it)
        wall = now() - t0
        _check(self.written(it) == before, "restart rewrote committed output")
        return wall

    def check_resume_filter(self, spark, it: int) -> None:
        from pypdfproc_spark.spark import pipeline as P

        n = P.resume_filter(self.udf_input(spark), spark,
                            self._dirs(it)["checkpoint"]).count()
        _check(n == 0, "resume_filter kept rows of committed buckets")

    def done(self, it: int) -> None:
        """Drop the previous job's output; the last one stays for the
        restart."""
        if it > 0:
            shutil.rmtree(os.path.dirname(self._dirs(it - 1)["results"]),
                          ignore_errors=True)


class CorpusDedup(Workload):
    """Corpus operators over documents + embeddings; each operator's rows
    are checked against its DuckDB oracle_sql() twin.  The job runs the
    two chains of the operator list (dedup_simhash -> dedup_simhash_pairs,
    dedup_verified -> dedup_components) with the first operator's
    persisted result passed to the second."""

    name = "corpus_dedup"
    extracts = False

    def expect(self) -> None:
        import duckdb

        import __spark_entry__ as E

        sql = E.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                        % (t, self.input_dir, t))
        self.expected = {}
        for _, op in DEDUP_OPS:
            # MATERIALIZED only changes how DuckDB evaluates the
            # recursive components query (the verified-pairs CTE once,
            # not once per recursion step: 10x faster), not its rows
            cur = con.execute(sql[op].replace(
                "WITH RECURSIVE vp AS (",
                "WITH RECURSIVE vp AS MATERIALIZED ("))
            self.expected[op] = _norm_rows([c[0] for c in cur.description],
                                           cur.fetchall())
        con.close()

    def setup_artifacts(self, spark) -> None:
        from pypdfproc_spark.spark import similarity

        similarity.ivf_build_index(spark, self.input_dir, force=True)

    def job(self, spark, it: int):
        import __spark_entry__ as E

        queries = E.queries()
        feeds = {src for _, src in CHAINED.values()}
        out = {}
        for _, op in DEDUP_OPS:
            t0 = now()
            kw = {}
            if op in CHAINED:
                arg, src = CHAINED[op]
                kw[arg] = out[src][1]
            df = queries[op](spark, self.input_dir, **kw)
            if op in feeds:
                df = df.persist()
            rows = df.collect()
            out[op] = (now() - t0, df, rows)
        for op in feeds:
            out[op][1].unpersist()
        return out

    def check(self, out) -> None:
        for op, (_, df, rows) in out.items():
            _check(_norm_rows(df.columns, [tuple(r) for r in rows])
                   == self.expected[op], "%s differs from its DuckDB oracle"
                   % op)

    def lsh_bucket_max(self, spark, n_pairs: int) -> int:
        """Largest (band_id, band_hash) bucket before the cap.

        textops.dedup_minhash_lsh exposes no bucket sizes, so its bands
        expression is copied here.  The candidate pairs of the capped
        copy must equal the operator's ``n_pairs`` rows: a change to the
        program's banding fails the run instead of drifting silently."""
        from pyspark.sql import functions as F

        from pypdfproc_spark.spark import textops

        sigs = textops._minhash_signatures(
            textops.load_documents(spark, self.input_dir))
        bands = sigs.select("doc_id", F.expr("explode(array(%s))" % ", ".join(
            "struct(%d AS band_id, md5(concat(s%d, s%d)) AS band_hash)"
            % (j, 2 * j, 2 * j + 1) for j in range(textops.N_BANDS))
        ).alias("b"))
        ids = bands.groupBy("b.band_id", "b.band_hash").agg(
            F.sort_array(F.collect_list("doc_id")).alias("ids")).select(
            "ids", F.size("ids").alias("n")).cache()
        biggest = ids.agg(F.max("n")).first()[0]
        pairs = ids.where((F.col("n") >= 2)
                          & (F.col("n") <= textops.MAX_BAND_BUCKET)).select(
            F.explode(F.expr(
                "flatten(transform(ids, (x, i) -> transform("
                "slice(ids, i + 2, size(ids)), y -> struct(x, y))))"))
        ).distinct().count()
        ids.unpersist()
        _check(pairs == n_pairs, "banding copy gives %d LSH pairs, "
               "dedup_minhash_lsh %d" % (pairs, n_pairs))
        return biggest


WORKLOADS = {
    "pdf_extract": PdfExtract,
    "crawl_resume": CrawlResume,
    "corpus_dedup": CorpusDedup,
}
