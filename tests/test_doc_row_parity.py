"""Stored-doc-row parity vs the reference's save path.

The reference persists (api.ts:96-102 + model.ts:56-79,137-147):

* ``html``  = ``toHTML(amendedTree).trim()`` — the CANONICAL re-render,
  not the transient X5 region html the crawler hands over;
* ``page``  = ``$.html().trim()`` (we store its utf-8 byte length);
* save() rejects iff ``byteLength(page) > MAX_CELL_SIZE`` or
  ``content.length > MAX_CELL_SIZE`` (strictly greater).

These are pure-Python tests over the kernel and the extraction batch
function (``fetch.extract_batch``) — no Spark session needed.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest

from crawlkit import extract
from crawlkit.doctree import doc_to_html
from crawlkit.extract import _climb_content_region, extract_document
from crawlkit.fetch import extract_batch
from crawlkit.htmlkit import find_all, outer_html, parse_html

HTML = (
    "\n  <html><head><title>t</title></head><body>"
    "<h1>Heading</h1><p>body &amp; text</p>"
    '<a href="/next">next</a></body></html>\n\n'
)
URL = "https://example.test/p"


def _run_one(html: str) -> dict:
    pdf = pd.DataFrame(
        [
            {
                "url_canon": URL,
                "url_hash": 1,
                "host": "example.test",
                "src": URL,
                "lang": "en",
                "depth": 0,
                "html_bytes": html.encode("utf-8"),
            }
        ]
    )
    narrow, results = extract_batch(pdf, datetime(2026, 1, 1), 1)
    assert len(narrow) == 1
    row = narrow.iloc[0].to_dict()
    # a stored row's results columns; none for a row the kernel rejects
    assert len(results["id"]) == (row["status"] == "ok")
    row.update({k: v[0] for k, v in results.items() if v})
    return row


def test_page_len_counts_trimmed_serialization_bytes():
    d = extract_document(HTML, URL)
    full = outer_html(parse_html(HTML))
    assert full != full.strip()  # the fixture really has edge ws
    assert d.page_len == len(full.strip().encode("utf-8"))


def test_page_len_all_whitespace_edges_inside_raw_text_unaffected():
    # whitespace inside elements is NOT edge whitespace
    html = "<html><body><h1>T</h1><pre>  keep  </pre></body></html>"
    d = extract_document(html, URL)
    full = outer_html(parse_html(html))
    assert d.page_len == len(full.encode("utf-8"))


def test_stored_html_is_trimmed_canonical_render():
    row = _run_one(HTML)
    d = extract_document(HTML, URL)
    assert row["status"] == "ok"
    assert row["html"] == doc_to_html(d.doc).strip()
    # and it is NOT the transient region html (crawler.ts:83), which
    # the reference never stores
    root = parse_html(HTML)
    region = _climb_content_region(find_all(root, "h1"), d.title)
    assert row["html"] != "".join(outer_html(c) for c in region[0].children)


def test_size_guard_is_page_or_content_strictly_greater(monkeypatch):
    d = extract_document(HTML, URL)
    bound = max(d.page_len, len(d.content_cbor))
    # boundary: both cells == MAX_CELL_SIZE is ALLOWED (reference
    # rejects strictly greater, model.ts:142-147)
    monkeypatch.setattr(extract, "MAX_CELL_SIZE", bound)
    assert _run_one(HTML)["status"] == "ok"
    # one byte smaller: the larger cell outgrows the cap -> rejected,
    # by the kernel itself, before it renders the canonical html
    monkeypatch.setattr(extract, "MAX_CELL_SIZE", bound - 1)
    assert _run_one(HTML)["status"] == "too_large"
    rejected = extract_document(HTML, URL)
    assert rejected.status == "too_large"
    assert rejected.canonical_html == ""


def test_size_guard_fires_on_each_cell_alone(monkeypatch):
    d = extract_document(HTML, URL)
    lo, hi = sorted((d.page_len, len(d.content_cbor)))
    assert lo != hi
    # cap between the two cells: the smaller passes, the larger trips
    monkeypatch.setattr(extract, "MAX_CELL_SIZE", lo)
    assert _run_one(HTML)["status"] == "too_large"
    rejected = extract_document(HTML, URL)
    assert rejected.status == "too_large"
    assert rejected.canonical_html == ""


def test_title_newlines_become_spaces_like_settitle():
    # getCheerioText keeps interior newlines (per-element trim only);
    # setTitle at persist replaces them with spaces (model.ts:56-61)
    html = (
        "<html><body><h1>Foo<span>\nBar</span></h1>"
        "<p>padding so the region stays put xxxxxxxx</p></body></html>"
    )
    d = extract_document(html, URL)
    assert d.title == "Foo Bar"


def test_region_climb_counts_utf16_units():
    # title '😀😀' is 2 code points but 4 UTF-16 units; JS compares
    # region_text.length < title.length * 2 in code units, so the
    # region text must reach 8 UNITS (not 4 code points) to stop the
    # climb.  Region text '😀😀abcd' = 8 units stops it; 4 emoji alone
    # under a wrapper (8 points, 8 units) also stops; but a 7-unit
    # region must climb.
    from crawlkit.htmlkit import utf16_len

    assert utf16_len("\U0001f600\U0001f600") == 4
    stop = (
        "<html><body><div><h1>\U0001f600\U0001f600</h1>abcd</div>"
        "<p>outer</p></body></html>"
    )
    climb = (
        "<html><body><div><h1>\U0001f600\U0001f600</h1>abc</div>"
        "<p>outer</p></body></html>"
    )
    d_stop = extract_document(stop, URL)
    d_climb = extract_document(climb, URL)
    # stopping keeps the region at the title's parent div (no 'outer');
    # climbing reaches <body> and pulls 'outer' in
    assert "outer" not in d_stop.text
    assert "outer" in d_climb.text


@pytest.mark.parametrize(
    "html,expect",
    [
        ("<html><body><h1>é</h1></body></html>\n", "multibyte"),
        ("\t\n<html><body><h1>x</h1></body></html>", "lead_only"),
    ],
)
def test_page_len_trim_corners(html, expect):
    d = extract_document(html, URL)
    full = outer_html(parse_html(html))
    assert d.page_len == len(full.strip().encode("utf-8"))
