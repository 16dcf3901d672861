"""Seeded input generators for the benchmark workloads.

Every table here is a pure function of the seed and the sizes, so the same
seed gives byte-identical inputs. Tables are built in-process with pyarrow
and written as parquet; Spark only reads them.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ocr_cezam_spark import corpus, kernel

CRAWL_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

# Same vocabulary, length range, language mix and source layout as the
# sf0.x `documents` table the registered queries were written against.
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "fr", "zh", "de", "es")
_LANG_W = (0.41, 0.15, 0.15, 0.14, 0.15)
_N_SOURCES = 20
_DUP_EVERY = 20


def crawl_rows(seed: int, n_html: int, n_pdf: int) -> list[dict]:
    """``n_html`` synthetic pages (30% of rows on three hot hosts) followed
    by ``n_pdf`` PDF documents, all with distinct urls."""
    rows = [corpus.make_page(i, seed) for i in range(n_html)]
    rows += [corpus.make_pdf_page(i, seed) for i in range(n_pdf)]
    return rows


def write_crawl(rows: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=CRAWL_SCHEMA), path)


def increment_input(seed: int, n_committed: int, n_html: int, n_pdf: int,
                    pool: int, out_dir: str) -> dict:
    """Input of one crawl increment plus the ``extracted`` table committed by
    earlier runs.

    ``n_committed`` urls are already committed. Their payloads are drawn
    from ``pool`` real pages under distinct archive urls (the job only scans
    them and anti-joins them away), and their committed text is the
    kernel's text for that payload, so the committed table holds what a
    prior run would have written in its url and text columns. The
    ``n_html + n_pdf`` new documents are what the kernel has to process.
    """
    pool_rows = [corpus.make_page(1_000_000 + j, seed) for j in range(pool)]
    pool_text = [kernel.extract(r["url"], r["html"], r["lang"])["text"]
                 for r in pool_rows]
    rng = random.Random(seed)
    pick = [rng.randrange(pool) for _ in range(n_committed)]
    old_urls = [
        "https://" + pool_rows[p]["url"].split("/")[2] + f"/archive/{i:08d}"
        for i, p in enumerate(pick)
    ]
    pool_tbl = pa.Table.from_pylist(pool_rows, schema=CRAWL_SCHEMA)
    old = pool_tbl.take(pa.array(pick, pa.int64())).set_column(
        0, "url", pa.array(old_urls, pa.string()))
    new_rows = crawl_rows(seed, n_html, n_pdf)
    new = pa.Table.from_pylist(new_rows, schema=CRAWL_SCHEMA)
    in_path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(pa.concat_tables([old, new]), in_path)

    committed = pa.table({
        "url": pa.array(old_urls, pa.string()),
        "text": pa.array([pool_text[p] for p in pick], pa.string()),
        "n_bytes": pa.array([len(pool_rows[p]["html"]) for p in pick],
                            pa.int64()),
        "error": pa.nulls(n_committed, pa.string()),
    })
    ext_dir = os.path.join(out_dir, "committed", "extracted")
    os.makedirs(ext_dir)
    pq.write_table(committed, os.path.join(ext_dir, "part-00000.parquet"))
    old_payload = sum(len(pool_rows[p]["html"]) for p in pick)
    new_payload = sum(len(r["html"]) for r in new_rows)

    def row(i: int) -> dict:
        if i >= n_committed:
            return new_rows[i - n_committed]
        page = pool_rows[pick[i]]
        return {"url": old_urls[i], "html": page["html"], "lang": page["lang"]}

    return {
        "input": in_path,
        "committed": os.path.dirname(ext_dir),
        "urls": old_urls + [r["url"] for r in new_rows],
        "row": row,
        "new_rows": new_rows,
        "info": {"docs": n_committed + len(new_rows),
                 "committed_docs": n_committed, "new_docs": len(new_rows),
                 "payload_bytes": old_payload + new_payload,
                 "new_payload_bytes": new_payload},
    }


def documents_table(seed: int, n: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars); every 20th document is a
    near-duplicate (an earlier document's text plus one word), so the
    duplicate count does not vary with the seed."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i % _DUP_EVERY == _DUP_EVERY - 1:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            k = rng.randint(10, 100)
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(k)))
    langs = rng.choices(_LANGS, _LANG_W, k=n)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % _N_SOURCES}" for i in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n: int, dim: int = 64) -> pa.Table:
    """(vec_id, embedding float[dim] unit-norm, label 0..9)."""
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_corpus_tables(seed: int, n_docs: int, n_vecs: int,
                        out_dir: str) -> dict:
    docs = documents_table(seed, n_docs)
    emb = embeddings_table(seed, n_vecs)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"n_docs": n_docs, "n_vecs": n_vecs,
            "payload_bytes": pc.sum(pc.binary_length(docs.column("text")))
            .as_py() + n_vecs * 64 * 4}
