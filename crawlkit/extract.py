"""The extraction kernel — X1–X10 (SURVEY.md §2.9), pure Python.

Reproduces the per-page computation of the reference's
``CheerioCrawler`` request handler (``/root/reference/src/crawler.ts:31-84``)
and its normalize/persist stage (``/root/reference/src/api.ts:94-113``):

* X1 title select: all ``h1`` (fallback ``h2``) texts trimmed, joined
  with ``' '``; neither present → not_found.
* X2/X3 meta harvest from ``head > meta``: ``og:title`` overrides the
  title, other ``og:*``/``article:*`` properties land in ``meta``.
* X4 ``script`` strip.
* X5 content-region climb: start at the title's parent, climb up to two
  more ancestors while the region text is shorter than 2× the title.
* X6–X8: region → amended node tree → canonical HTML.
* X9 canonical-CBOR content bytes, then the reference's save() size
  guard (``src/db/model.ts:142-147``): an oversized page or content
  cell makes the row ``too_large``, so the kernel alone decides
  which rows are stored.
* plus the pinned plain-text projection (the byte-parity column) and
  out-link harvesting for the frontier (the reference is a single-URL
  service; link discovery is the batch-crawl generalisation).

This kernel is *the* parity oracle: the synthetic ``pages.text`` column
is generated with it, and the engine's distributed output must be
byte-identical per url (BASELINE.json ``input_hint``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import cborlite
from .doctree import (
    DeterministicIds,
    amend_node,
    doc_to_html,
    doc_to_text,
    element_to_doc,
    html_to_doc,
)
from .htmlkit import (
    HElement,
    element_text,
    find_all,
    outer_html_utf8_len,
    parse_html,
    remove_all,
    selection_text,
    unique_parents,
    utf16_len,
)

MAX_CELL_SIZE = 1024 * 1024 - 1  # reference src/db/model.ts:7


@dataclass
class Extracted:
    url: str
    src: str
    status: str  # 'ok' | 'not_found' | 'too_large'
    title: str = ""
    meta: dict[str, str] = field(default_factory=dict)
    # utf-8 byte length of the full serialized page, trimmed —
    # Buffer.byteLength(page.trim()) exactly as save() guards it
    # (setPage trims, model.ts:77-79,142-147).  The engine stores only
    # the length (the body lives in the pages table), so the page
    # string itself is never materialized
    page_len: int = 0
    content_cbor: bytes = b""  # X9
    text: str = ""  # pinned parity column
    links: list[str] = field(default_factory=list)
    # amended doc tree (X7) of an ok row
    doc: dict | None = field(default=None, repr=False)
    # The stored html column of an ok row: the X8 canonical re-render
    # of ``doc`` (reference ``src/tiptap.ts`` generateHTML), trimmed —
    # setHTML(toHTML(obj)), api.ts:96-102 + model.ts:73-75.  "" for
    # every other status: not_found and too_large rows never render.
    canonical_html: str = field(default="", repr=False)


def _harvest_meta(root: HElement) -> tuple[dict[str, str], str | None]:
    """X2/X3: iterate ``head > meta`` in document order
    (reference src/crawler.ts:58-71)."""
    meta: dict[str, str] = {}
    og_title: str | None = None
    for head in find_all(root, "head"):
        for child in head.children:
            if not isinstance(child, HElement) or child.tag != "meta":
                continue
            prop = child.attrs.get("property")
            content = child.attrs.get("content")
            if prop is None or content is None:
                continue
            if prop == "og:title":
                og_title = content.strip()
            elif prop.startswith("og:") or prop.startswith("article:"):
                meta[prop.strip()] = content.strip()
    return meta, og_title


def _climb_content_region(title_els: list[HElement], title: str) -> list[HElement]:
    """X5 (reference src/crawler.ts:74-82): parent of the title
    selection, climbing up to two more levels while region text is
    shorter than twice the title.  Lengths are JS string lengths
    (UTF-16 code units), so astral chars count 2 on both sides."""
    region = unique_parents(title_els)
    title_units2 = utf16_len(title) * 2
    for _ in range(2):
        if utf16_len(selection_text(region)) >= title_units2:
            break
        parents = unique_parents(region)
        if not parents:
            break
        region = parents
    return region


def _harvest_links(root: HElement) -> list[str]:
    links: list[str] = []
    seen: set[str] = set()
    for a in find_all(root, "a"):
        href = a.attrs.get("href")
        if href and href not in seen:
            seen.add(href)
            links.append(href)
    return links


def extract_document(html: str, url: str, src: str | None = None) -> Extracted:
    """Run the full extraction pipeline on one page."""
    src = src if src is not None else url
    root = parse_html(html)

    # X1: h1s, fallback h2s (src/crawler.ts:32-39)
    title_els = find_all(root, "h1")
    if not title_els:
        title_els = find_all(root, "h2")
    if not title_els:
        return Extracted(url=url, src=src, status="not_found",
                         links=_harvest_links(root))

    title = selection_text(title_els)
    # length-only page serialization (before script strip, like the
    # reference's $.html() capture; trimmed like setPage,
    # model.ts:77-79) — no throwaway multi-hundred-KB string per page
    page_len = outer_html_utf8_len(root, trim=True)

    # X2/X3 meta harvest
    meta, og_title = _harvest_meta(root)
    if og_title is not None:
        title = og_title

    # X4 script strip (src/crawler.ts:73) — before region selection
    remove_all(root, "script")

    # X5 content region climb
    region = _climb_content_region(title_els, title)

    # X6+X7: region → amended node tree (deterministic ids from url).
    # Built directly from the already-parsed region element — our
    # serializer/parser roundtrip is identity, so this equals parsing
    # the region's inner html (the reference's doc.html) without
    # serializing and re-parsing it.
    doc = (
        element_to_doc(region[0]) if region else {"type": "doc", "content": []}
    )
    amend_node(doc, DeterministicIds(url))

    # X9, then the reference's save() guard (model.ts:142-147): the
    # trimmed PAGE bytes or the CBOR content bytes, strictly greater
    # than the cell cap, reject the row — not the region html, which
    # the reference never stores.  Checked before the text and the
    # render, so a rejected row never pays for either.
    content_cbor = cborlite.dumps(doc)
    links = _harvest_links(root)
    if page_len > MAX_CELL_SIZE or len(content_cbor) > MAX_CELL_SIZE:
        return Extracted(url=url, src=src, status="too_large",
                         page_len=page_len, links=links)
    text = doc_to_text(doc)

    # setTitle at persist (model.ts:56-61): interior newlines become
    # spaces, then trim.  Applied AFTER the region climb, which uses
    # the crawler-stage title verbatim (setTitle runs at save time in
    # the reference, crawler.ts:49-52 vs api.ts:98).
    if "\n" in title:
        title = title.replace("\n", " ")
    title = title.strip()

    return Extracted(
        url=url,
        src=src,
        status="ok",
        title=title,
        meta=meta,
        page_len=page_len,
        content_cbor=content_cbor,
        text=text,
        links=links,
        doc=doc,
        canonical_html=doc_to_html(doc).strip(),
    )
