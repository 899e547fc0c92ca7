"""Byte pin of the extraction kernel that needs no file outside the repo.

The kernel's stored outputs (title, CBOR content, trimmed canonical
html, page_len, text) are hashed over deterministic synthetic pages at
two weights — bench weight (``body_paras`` 150-250, the pages the
benchmarks crawl) and the light fixture weight — plus a set of
tokenizer edge-case strings.  ``tests/golden/kernel_digest.json`` holds
the digests; any change to a stored byte fails here.

Each field's digest runs over the length-prefixed values of every page
in order, so one flipped byte anywhere shows; the per-page digests name
the first page that moved.

Regenerate (only when an output change is intended):
``PYTHONPATH=. python tests/test_kernel_golden.py`` from the repo root.
"""

from __future__ import annotations

import hashlib
import json
import pathlib

from crawlkit.extract import extract_document
from crawlkit.synth import SynthConfig, page_html, url_of

GOLDEN_PATH = pathlib.Path(__file__).parent / "golden" / "kernel_digest.json"

CORPORA = {
    "bench": SynthConfig(n_pages=1000, n_hosts=20, body_paras=(150, 250)),
    "light": SynthConfig(n_pages=1000, n_hosts=20),
}
FIELDS = ("status", "title", "content_cbor", "canonical_html", "page_len",
          "text")


def _fields(html: str, url: str) -> dict[str, bytes]:
    d = extract_document(html, url)
    return {
        "status": d.status.encode(),
        "title": d.title.encode(),
        "content_cbor": d.content_cbor,
        "canonical_html": d.canonical_html.strip().encode(),
        "page_len": str(d.page_len).encode(),
        "text": d.text.encode(),
    }


def _digest(pages: list[tuple[str, str]]) -> dict:
    streams = {f: hashlib.sha256() for f in FIELDS}
    per_page = []
    for html, url in pages:
        vals = _fields(html, url)
        page = hashlib.sha256()
        for f in FIELDS:
            framed = len(vals[f]).to_bytes(8, "big") + vals[f]
            streams[f].update(framed)
            page.update(framed)
        per_page.append(page.hexdigest()[:16])
    return {"fields": {f: h.hexdigest() for f, h in streams.items()},
            "pages": per_page}


def _corpus_pages(cfg: SynthConfig) -> list[tuple[str, str]]:
    return [(page_html(i, cfg), url_of(i, cfg)) for i in range(cfg.n_pages)]


def _edge_pages(inputs: list[str]) -> list[tuple[str, str]]:
    return [(s, f"https://edge.example/{i}") for i, s in enumerate(inputs)]


def _check(name: str, pages: list[tuple[str, str]], want: dict) -> None:
    got = _digest(pages)
    moved = [i for i, (a, b) in enumerate(zip(got["pages"], want["pages"]))
             if a != b]
    assert len(got["pages"]) == len(want["pages"])
    assert not moved, f"{name}: pages {moved[:10]} changed"
    assert got["fields"] == want["fields"]


def _golden() -> dict:
    return json.loads(GOLDEN_PATH.read_text())


def test_kernel_golden_bench_weight():
    _check("bench", _corpus_pages(CORPORA["bench"]), _golden()["bench"])


def test_kernel_golden_light_weight():
    _check("light", _corpus_pages(CORPORA["light"]), _golden()["light"])


def test_kernel_golden_edge_cases():
    golden = _golden()
    _check("edge", _edge_pages(golden["edge_inputs"]), golden["edge"])


def _write() -> None:
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).parent))
    from test_core_kernel import PAGE
    from test_htmlkit_fast import EDGE_CASES

    edge_inputs = [PAGE, *EDGE_CASES]
    out = {name: _digest(_corpus_pages(cfg)) for name, cfg in CORPORA.items()}
    out["edge_inputs"] = edge_inputs
    out["edge"] = _digest(_edge_pages(edge_inputs))
    GOLDEN_PATH.write_text(json.dumps(out, indent=1, ensure_ascii=False) + "\n")


if __name__ == "__main__":
    _write()
