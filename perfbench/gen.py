"""Seeded input generators for the three perfbench workloads.

Every input is a pure function of (workload, seed) and of the shape
parameters in spec.json.  Share parameters are applied as exact counts
(round(docs * share) documents chosen by the seeded RNG), so two seeds
give the same amount of work and differ only in content and placement.

PDF and HTML payloads come from fixtures/pagesgen.py (read-only reuse);
their text and the corpus_dedup tables are drawn from corpus_sample/, a
committed sample of the sf0.1 test data.  The generators write plain
parquet; the program under test only ever sees those tables.
"""

from __future__ import annotations

import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.pagesgen import make_html, make_pdf

HERE = os.path.dirname(os.path.abspath(__file__))


def workload_spec(name: str) -> dict:
    """A workload's input shape parameters from spec.json."""
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)["workloads"][name]


SAMPLE_DIR = os.path.join(HERE, "corpus_sample")


def _sample_docs() -> dict:
    """The committed sample of the sf0.1 documents table (see
    make_corpus_sample.py), as columns."""
    return pq.read_table(os.path.join(SAMPLE_DIR,
                                      "documents.parquet")).to_pydict()


# page text is drawn from the sample's token stream, so its word
# frequencies are those of the test data's documents
TOKENS = [t for text in _sample_docs()["text"] for t in text.split()]
EPOCH = datetime.datetime(2024, 1, 1)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(TOKENS, k=n))


def _pick(rng: random.Random, pool: list[int], share: float,
          n_total: int) -> set[int]:
    return set(rng.sample(pool, round(n_total * share)))


def _corrupt(rng: random.Random, pdf: bytes, i: int) -> bytes:
    """Two corruption shapes, alternating: a truncated tail (the
    startxref scan fails, the whole doc errors) and a zeroed deflate
    header in the first content stream (that page drops with an error)."""
    if i % 2 == 0:
        return pdf[: int(len(pdf) * rng.uniform(0.3, 0.9))]
    at = pdf.index(b"stream\n") + len(b"stream\n") + 2
    return pdf[:at] + b"\x00" * 8 + pdf[at + 8:]


def _pdf_payload(rng: random.Random, w: dict,
                 giant: bool) -> tuple[bytes, str]:
    n_pages = w["giant_pages"] if giant else rng.randint(
        w["pages_min"], w["pages_max"])
    text = _words(rng, n_pages * rng.randint(20, 60))
    return make_pdf(text, n_pages=n_pages), text


def _write_pages(rows: list[tuple], path: str, n_files: int,
                 row_group: int) -> None:
    os.makedirs(path, exist_ok=True)
    chunk = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * chunk: (f + 1) * chunk]
        cols = list(zip(*part))
        table = pa.table(
            [pa.array(c, t.type) for c, t in zip(cols, PAGES_SCHEMA)],
            schema=PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, "part-%03d.parquet" % f),
                       row_group_size=row_group)


def gen_pdf_extract(seed: int, out: str) -> dict:
    """Multi-page FlateDecode PDFs with 50-page giants and corrupt docs."""
    w = workload_spec("pdf_extract")
    rng = random.Random("pdf_extract:%d" % seed)
    n = w["docs"]
    ids = list(range(n))
    giants = _pick(rng, ids, w["giant_share"], n)
    corrupt = _pick(rng, [i for i in ids if i not in giants],
                    w["corrupt_share"], n)
    rows, corrupt_urls = [], []
    for i in ids:
        url = "https://pdf-%d.test/%06d/%08x" % (seed, i,
                                                  rng.getrandbits(32))
        payload, text = _pdf_payload(rng, w, i in giants)
        if i in corrupt:
            payload = _corrupt(rng, payload, len(corrupt_urls))
            corrupt_urls.append(url)
        ts = EPOCH + datetime.timedelta(seconds=rng.randrange(10_000_000))
        rows.append((url, ts, payload, text, "en"))
    _write_pages(rows, out, n_files=4, row_group=256)
    return {"docs": n, "corrupt_urls": sorted(corrupt_urls)}


def gen_crawl_resume(seed: int, out: str) -> dict:
    """Common-Crawl-like mix: mostly HTML, a few % PDF, stale older
    captures and giants, unbucketed across several files."""
    w = workload_spec("crawl_resume")
    rng = random.Random("crawl_resume:%d" % seed)
    n = w["docs"]
    ids = list(range(n))
    pdfs = _pick(rng, ids, w["pdf_share"], n)
    giants = _pick(rng, ids, w["giant_share"], n)
    corrupt = _pick(rng, [i for i in pdfs if i not in giants],
                    w["corrupt_share"], n)
    stale = _pick(rng, ids, w["stale_share"], n)
    rows, corrupt_urls = [], []
    for i in ids:
        url = "https://crawl-%d.test/%06d/%08x" % (seed, i,
                                                    rng.getrandbits(32))
        if i in pdfs:
            payload, text = _pdf_payload(rng, w, i in giants)
            if i in corrupt:
                payload = _corrupt(rng, payload, len(corrupt_urls))
                corrupt_urls.append(url)
        else:
            text = _words(rng, rng.randint(40, 400))
            body = text * w["giant_html_repeat"] if i in giants else text
            payload = make_html(i, body)
        ts = EPOCH + datetime.timedelta(seconds=rng.randrange(10_000_000))
        rows.append((url, ts, payload, text, "en"))
        if i in stale:
            old = ts - datetime.timedelta(days=30)
            rows.append((url, old, make_html(i, "stale " + text), text, "en"))
    rng.shuffle(rows)
    _write_pages(rows, out, n_files=8, row_group=128)
    return {"docs": n, "corrupt_urls": sorted(corrupt_urls)}


def gen_corpus_dedup(seed: int, out: str) -> dict:
    """documents.parquet + embeddings.parquet grown from the committed
    sf0.1 sample: sampled rows, a near-duplicate share and one
    boilerplate cluster above textops.MAX_BAND_BUCKET."""
    w = workload_spec("corpus_dedup")
    rng = random.Random("corpus_dedup:%d" % seed)
    src = _sample_docs()
    n = w["docs"]
    n_boiler = w["boilerplate_cluster"]
    n_near = round(n * w["near_dup_share"])
    n_base = n - n_boiler - n_near
    picked = rng.sample(range(len(src["text"])), n_base + 1)
    rows = [(src["text"][i], src["lang"][i], src["source"][i])
            for i in picked[:n_base]]
    lo, hi = w["near_dup_edits"]
    # one near-duplicate per base document, its edits drawn from the
    # sample's token stream: every duplicate component is a pair, so
    # dedup_components needs the same number of label rounds on every seed
    for base in rng.sample(range(n_base), n_near):
        text, lang, source = rows[base]
        toks = text.split()
        for _ in range(rng.randint(lo, hi)):
            toks[rng.randrange(len(toks))] = rng.choice(TOKENS)
        rows.append((" ".join(toks), lang, source))
    # the boilerplate: one more sampled document, copied n_boiler times
    b = picked[n_base]
    rows += [(src["text"][b], src["lang"][b], src["source"][b])] * n_boiler
    rng.shuffle(rows)
    texts, langs, sources = (list(c) for c in zip(*rows))
    os.makedirs(out, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out, "documents.parquet"),
    )

    emb = pq.read_table(os.path.join(SAMPLE_DIR, "embeddings.parquet"))
    vecs = np.array(emb.column("embedding").to_pylist())
    labels = np.array(emb.column("label").to_pylist(), np.int32)
    nrng = np.random.default_rng(seed)
    nv = w["vectors"]
    n_vdup = round(nv * w["vector_near_dup_share"])
    keep = nrng.choice(len(vecs), nv - n_vdup, replace=False)
    src_v = nrng.choice(keep, n_vdup)
    noise = nrng.normal(scale=0.01, size=(n_vdup, vecs.shape[1]))
    vecs = np.concatenate([vecs[keep], vecs[src_v] + noise])
    labels = np.concatenate([labels[keep], labels[src_v]])
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        os.path.join(out, "embeddings.parquet"),
    )
    return {"docs": n}


GENERATORS = {
    "pdf_extract": gen_pdf_extract,
    "crawl_resume": gen_crawl_resume,
    "corpus_dedup": gen_corpus_dedup,
}
