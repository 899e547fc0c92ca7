"""In-process, single-thread timing of the extraction kernel.

Runs on a deterministic sample of the workload's own pages and splits
the per-page cost the crawl's fetch stage pays into the kernel's public
pieces: parse, the whole ``extract_document`` call plus the canonical
render the storage path stores, CBOR encode, text projection and the
HTML render.
"""

from __future__ import annotations

import statistics
import time

import pyarrow.parquet as pq


def sample_pages(corpus_dir: str, n: int) -> list[tuple[str, str]]:
    """First ``n`` (url, html) rows of the corpus, in url order."""
    table = pq.read_table(corpus_dir, columns=["url", "html"])
    rows = sorted(zip(table["url"].to_pylist(), table["html"].to_pylist()))
    return [(u, h.decode("utf-8")) for u, h in rows[:n]]


def _ms_per_page(fn, items, reps: int) -> float:
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for item in items:
            fn(item)
        runs.append((time.perf_counter() - t0) * 1000.0 / len(items))
    return statistics.median(runs)


def kernel_metrics(pages: list[tuple[str, str]], reps: int = 3) -> dict:
    from crawlkit import cborlite
    from crawlkit.doctree import doc_to_html, doc_to_text
    from crawlkit.extract import extract_document
    from crawlkit.htmlkit import parse_html

    docs = [
        ex for ex in (extract_document(h, u) for u, h in pages)
        if ex.status == "ok"
    ]
    trees = [ex.doc for ex in docs]
    return {
        "extract.ms_per_page": _ms_per_page(
            lambda uh: extract_document(uh[1], uh[0]).canonical_html.strip(),
            pages, reps),
        "htmlkit.parse_ms_per_page": _ms_per_page(
            lambda uh: parse_html(uh[1]), pages, reps),
        "cborlite.dumps_ms_per_page": _ms_per_page(cborlite.dumps, trees, reps),
        "doctree.text_ms_per_page": _ms_per_page(doc_to_text, trees, reps),
        "doctree.html_ms_per_page": _ms_per_page(doc_to_html, trees, reps),
        "extract.cbor_bytes_per_page": statistics.fmean(
            len(ex.content_cbor) for ex in docs),
        "extract.text_bytes_per_page": statistics.fmean(
            len(ex.text.encode("utf-8")) for ex in docs),
        "extract.sample_pages": len(pages),
        "extract.sample_ok": len(docs),
    }
