"""ProseMirror/tiptap-style document tree: build, amend, render, text.

Re-expresses the reference's rich-text pipeline (SURVEY.md §2.9):

* X6  HTML → node tree            (reference ``src/html.ts:5-13``,
                                   ``src/tiptap.ts:190-194``)
* X7  node amendment              (``src/tiptap.ts:115-188``)
* X8  node tree → canonical HTML  (``src/html.ts:15-31``)
* X10 findTitle by heading level  (``src/tiptap.ts:200-220``)
* plus the pinned plain-text projection used for the byte-identical
  ``text`` parity contract (BASELINE.json ``input_hint``).

Nodes are plain dicts: ``{"type": str, "attrs"?: dict, "text"?: str,
"marks"?: [ {...} ], "content"?: [node...]}`` — the same JSON shape the
reference stores as CBOR (``src/db/model.ts:69-71``).

Determinism: the reference assigns random ``nanoid(6)`` ids
(``src/tiptap.ts:94-98,122-132``) — a determinism hazard at cluster
scale.  We derive ids from a per-document seed + counter instead, with
the same collision-regeneration loop, so output bytes are stable under
any partitioning.
"""

from __future__ import annotations

import hashlib
import re

from .htmlkit import HElement, HNode, HText, parse_html

# Block types that carry a unique ``id`` attr (reference
# ``src/tiptap.ts:34-45`` ``uidTypes``).
UID_TYPES = frozenset(
    (
        "blockquote",
        "codeBlock",
        "detailsSummary",
        "detailsContent",
        "heading",
        "listItem",
        "paragraph",
        "tableHeader",
        "tableCell",
        "taskItem",
    )
)

# nanoid's default url-safe alphabet (public: ai/nanoid) — we keep the
# alphabet/length so ids are shaped like the reference's, but derive
# them deterministically.
_ID_ALPHABET = "useandom-26T198340PX75pxJACKVERYMINDBUSHWOLF_GQZbfghjklqvwyzrict"
_ID_LEN = 6

# 12-bit → 2-char lookup: an id is six 6-bit alphabet picks from the
# digest's low 36 bits; pairing picks into one 4096-entry table turns
# the per-id inner loop (6 shifts + 6 indexes + join) into 3 lookups
# and one concat.  Table order matches the pick order (low 6 bits
# first), so ids are byte-identical to the loop form (golden-pinned).
_ID_PAIRS = tuple(
    _ID_ALPHABET[i & 63] + _ID_ALPHABET[(i >> 6) & 63] for i in range(4096)
)

_WS_RE = re.compile(r"[ \t\r\n\f]+")

_INLINE_MARKS = {
    "b": "bold",
    "strong": "bold",
    "i": "italic",
    "em": "italic",
    "u": "underline",
    "s": "strike",
    "del": "strike",
    "strike": "strike",
    "code": "code",
    "sub": "subscript",
    "sup": "superscript",
}

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}

# Containers that are transparent at block level (children hoisted).
_TRANSPARENT = frozenset(
    (
        "div",
        "section",
        "article",
        "main",
        "header",
        "footer",
        "aside",
        "nav",
        "figure",
        "figcaption",
        "dl",
        "dt",
        "dd",
        "form",
        "fieldset",
        "center",
        "body",
        "html",
        "#root",
        "address",
        "hgroup",
        "noscript",
    )
)

_SKIP = frozenset(("script", "style", "head", "title", "meta", "link", "template"))


class DeterministicIds:
    """Deterministic replacement for ``nanoid(6)`` (SURVEY.md F16)."""

    def __init__(self, seed: str) -> None:
        self.seed = seed
        self._prefix = seed.encode("utf-8") + b"\x00"  # hot-path preencode
        self.counter = 0
        self.ids: set[str] = set()

    def _gen(self, _blake2b=hashlib.blake2b, _pairs=_ID_PAIRS) -> str:
        # byte-identical to blake2b(f"{seed}\x00{counter}".encode()):
        # ASCII decimal counter, preencoded seed prefix; the paired
        # 12-bit table reproduces the original low-bits-first 6-bit
        # alphabet walk exactly (see _ID_PAIRS)
        digest = _blake2b(
            self._prefix + b"%d" % self.counter, digest_size=8
        ).digest()
        n = int.from_bytes(digest, "big")
        self.counter += 1
        return _pairs[n & 4095] + _pairs[(n >> 12) & 4095] + _pairs[(n >> 24) & 4095]

    def fresh_id(self, _blake2b=hashlib.blake2b, _pairs=_ID_PAIRS) -> str:
        """``amend_id("")``: generate, retry on collision, register.
        Inlined ``_gen`` body (same bytes) — this runs once per block
        node in the extraction hot path."""
        ids = self.ids
        prefix = self._prefix
        c = self.counter
        while True:
            n = int.from_bytes(
                _blake2b(prefix + b"%d" % c, digest_size=8).digest(), "big"
            )
            c += 1
            nid = _pairs[n & 4095] + _pairs[(n >> 12) & 4095] + _pairs[(n >> 24) & 4095]
            if nid not in ids:
                break
        self.counter = c
        ids.add(nid)
        return nid

    def amend_id(self, current: object) -> str:
        """Reference ``amendId`` semantics (``src/tiptap.ts:122-132``):
        keep a provided non-empty unique id, regenerate on collision."""
        nid = current if isinstance(current, str) and current != "" else self._gen()
        while nid in self.ids:
            nid = self._gen()
        self.ids.add(nid)
        return nid


# ---------------------------------------------------------------------------
# X6: HTML → node tree
# ---------------------------------------------------------------------------


def _collapse_ws(text: str) -> str:
    # fast path: most runs contain no collapsible whitespace — three
    # C-speed scans beat firing up the regex engine per text node
    if "\n" not in text and "\t" not in text and "  " not in text \
            and "\r" not in text and "\f" not in text:
        return text
    return _WS_RE.sub(" ", text)


class _DocBuilder:
    def __init__(self, math_nodes: bool = False) -> None:
        # OFF by default for reference document-format parity: the
        # reference's @tiptap-pro/extension-mathematics 2.5.0
        # (package.json:35, src/tiptap.ts:66) is a DECORATION-only
        # plugin — it renders '$…$' with KaTeX in the editor view but
        # getJSON() keeps the run as plain text and never emits a
        # 'mathematics' node.  Opting in produces typed math nodes for
        # pipelines that want them, at the cost of CBOR/doc-format
        # divergence from the reference (doc_to_text parity holds
        # either way — the projection reproduces the source bytes).
        self.math_nodes = math_nodes

    def build(self, root: HElement) -> dict:
        return {"type": "doc", "content": self._blocks(root)}

    # -- block flow -----------------------------------------------------
    def _blocks(self, container: HElement) -> list[dict]:
        blocks: list[dict] = []
        inline_buf: list[dict] = []

        def flush() -> None:
            # Implicitly-wrapped inline runs (loose text inside an
            # unknown container — dd, caption, li, …) keep a collapsed
            # LEADING space: the reference's DOM parser only strips
            # leading whitespace when the textblock is already open,
            # and implicit wrapping opens it after the text lands
            # (31 such paragraphs in sample/doc_cbor.json).
            if not inline_buf:  # hot path: most block boundaries
                return
            para = _make_paragraph(inline_buf, strip_leading=False)
            if para is not None:
                blocks.append(para)
            inline_buf.clear()

        for child in container.children:
            if isinstance(child, HText):
                self._inline_text(child.data, [], inline_buf)
                continue
            tag = child.tag
            if tag in _SKIP:
                continue
            if tag in _INLINE_MARKS or tag in ("a", "span", "em", "time", "abbr"):
                self._inline(child, [], inline_buf)
            elif tag == "br":
                inline_buf.append({"type": "hardBreak"})
            elif tag == "img":
                flush()
                blocks.append(_image_node(child))
            else:
                flush()
                blocks.extend(self._block(child))
        flush()
        return blocks

    def _block(self, el: HElement) -> list[dict]:
        tag = el.tag
        if tag in _HEADINGS:
            return [_with_align(
                {
                    "type": "heading",
                    "attrs": {"id": None, "level": _HEADINGS[tag]},
                    "content": self._inline_children(el),
                },
                el,
            )]
        if tag == "p":
            # _inline_children already closed the run (_trim_inline ==
            # _finish_inline(strip_leading=True)); re-finishing via
            # _make_paragraph would be an idempotent second edge scan
            # per paragraph — the kernel's hottest redundant call
            content = self._inline_children(el)
            return [_with_align({"type": "paragraph", "content": content}, el)]
        if tag == "pre":
            return [
                {
                    "type": "codeBlock",
                    "attrs": {"language": None},
                    "content": _code_text_content(el),
                }
            ]
        if tag == "blockquote":
            return [_with_align(
                {"type": "blockquote", "content": self._blocks(el)}, el)]
        if tag in ("ul", "ol"):
            if tag == "ul" and el.attrs.get("data-type") == "taskList":
                return [self._task_list(el)]
            # Parity quirk, reproduced deliberately: the reference's
            # generateJSON path maps BOTH <ul> and <ol> to orderedList
            # (sample/doc_cbor.json holds 52 orderedList / 0 bulletList
            # for a page with 45 <ul> + 7 <ol>; sample/doc_html.html
            # re-renders every list as <ol>).  bulletList stays a
            # renderable type for programmatic docs.
            items = [
                {"type": "listItem", "content": self._blocks(li)}
                for li in el.children
                if isinstance(li, HElement) and li.tag == "li"
            ]
            return [{
                "type": "orderedList",
                "attrs": {"start": _int_attr(el, "start", 1)},
                "content": items,
            }]
        if tag == "table":
            return [self._table(el)]
        if tag == "hr":
            return [{"type": "horizontalRule"}]
        if tag == "details":
            return [self._details(el)]
        if tag == "iframe":
            node = _youtube_node(el)
            return [node] if node is not None else []
        if tag in _TRANSPARENT or True:
            # Unknown elements behave as transparent containers too.
            return self._blocks(el)

    def _task_list(self, el: HElement) -> dict:
        """X6 taskList (tiptap TaskList/TaskItem, nested:true —
        src/tiptap.ts:76-80): ``<ul data-type="taskList">`` with
        ``<li data-type="taskItem" data-checked>`` items."""
        items = []
        for li in el.children:
            if not isinstance(li, HElement) or li.tag != "li":
                continue
            content = self._blocks(li)
            if not content:
                content = [{"type": "paragraph", "content": []}]
            items.append({
                "type": "taskItem",
                "attrs": {"checked": li.attrs.get("data-checked") == "true"},
                "content": content,
            })
        return {"type": "taskList", "content": items}

    def _details(self, el: HElement) -> dict:
        summary_inline: list[dict] = []
        rest = HElement("#rest")
        for child in el.children:
            if isinstance(child, HElement) and child.tag == "summary":
                summary_inline = self._inline_children(child)
            else:
                rest.append(child)
        return {
            "type": "details",
            "content": [
                {"type": "detailsSummary", "content": summary_inline},
                {"type": "detailsContent", "content": self._blocks(rest)},
            ],
        }

    def _table(self, el: HElement) -> dict:
        rows: list[dict] = []

        def walk_rows(container: HElement) -> None:
            for child in container.children:
                if not isinstance(child, HElement):
                    continue
                if child.tag == "tr":
                    rows.append(self._table_row(child))
                elif child.tag in ("thead", "tbody", "tfoot"):
                    walk_rows(child)
                elif child.tag == "caption":
                    # The reference's parse wraps a <caption> into a
                    # one-cell row (table content admits rows only, so
                    # the caption paragraph is fill-wrapped —
                    # sample/doc_cbor.json tables lead with such rows).
                    rows.append(self._caption_row(child))

        walk_rows(el)
        return {"type": "table", "content": rows}

    def _caption_row(self, caption: HElement) -> dict:
        buf: list[dict] = []
        for c in caption.children:
            if isinstance(c, HText):
                self._inline_text(c.data, [], buf)
            else:
                self._inline(c, [], buf)
        para = _make_paragraph(buf, strip_leading=False)
        content = [para] if para is not None else [
            {"type": "paragraph", "content": []}
        ]
        return {
            "type": "tableRow",
            "content": [{
                "type": "tableCell",
                "attrs": {"colspan": 1, "rowspan": 1, "colwidth": None},
                "content": content,
            }],
        }

    def _table_row(self, tr: HElement) -> dict:
        cells = []
        for cell in tr.children:
            if not isinstance(cell, HElement) or cell.tag not in ("td", "th"):
                continue
            ctype = "tableHeader" if cell.tag == "th" else "tableCell"
            content = self._blocks(cell)
            if not content:
                content = [{"type": "paragraph", "content": []}]
            cells.append(_with_align(
                {
                    "type": ctype,
                    "attrs": {
                        "colspan": _int_attr(cell, "colspan", 1),
                        "rowspan": _int_attr(cell, "rowspan", 1),
                        "colwidth": None,
                    },
                    "content": content,
                },
                cell,
            ))
        return {"type": "tableRow", "content": cells}

    # -- inline flow ------------------------------------------------------
    def _inline_children(self, el: HElement) -> list[dict]:
        buf: list[dict] = []
        for child in el.children:
            if isinstance(child, HText):
                self._inline_text(child.data, [], buf)
            else:
                self._inline(child, [], buf)
        return _trim_inline(buf)

    def _inline(self, el: HElement, marks: list[dict], buf: list[dict]) -> None:
        tag = el.tag
        if tag in _SKIP:
            return
        if tag == "br":
            buf.append({"type": "hardBreak"})
            return
        if tag == "img":
            buf.append(_image_node(el))
            return
        if tag == "span":
            dtype = el.attrs.get("data-type")
            if dtype == "mention":
                # tiptap Mention (src/tiptap.ts:67): keep the id; text
                # projection renders '@id' (the extension's renderText).
                buf.append({
                    "type": "mention",
                    "attrs": {"id": el.attrs.get("data-id"),
                              "label": el.attrs.get("data-label")},
                })
                return
            if dtype == "emoji":
                # tiptap-pro Emoji (src/tiptap.ts:52-55): name attr
                # preserved; inner fallback text is the glyph itself.
                from .htmlkit import element_text

                buf.append({
                    "type": "emoji",
                    "attrs": {"name": el.attrs.get("data-name"),
                              "text": element_text(el) or None},
                })
                return
            if dtype in ("mathematics", "inline-math") and self.math_nodes:
                # opt-in (see __init__): the explicit-span form; latex
                # from data-latex or the span's fallback text.  Plain-
                # text '$…$'/'\(…\)' runs are handled in _inline_text.
                # With math_nodes off the span falls through to the
                # generic handler (its text content becomes plain
                # text), matching the reference's getJSON.
                from .htmlkit import element_text

                latex = el.attrs.get("data-latex") or element_text(el)
                buf.append({
                    "type": "mathematics",
                    "attrs": {"latex": latex, "delim": "$"},
                })
                return
            # Color/TextStyle (src/tiptap.ts:56,90): a styled span
            # carries its color on a textStyle mark; nested spans
            # REPLACE the inherited color — the innermost wins, like
            # CSS and the reference's mark model.
            m = _COLOR_RE.search(el.attrs.get("style") or "")
            if m:
                mark = {"type": "textStyle",
                        "attrs": {"color": m.group(1).strip()}}
                marks = [
                    x for x in marks if x.get("type") != "textStyle"
                ] + [mark]
        new_marks = marks
        if tag == "a":
            href = el.attrs.get("href", "")
            new_marks = marks + [
                {"type": "link", "attrs": {"href": href, "class": el.attrs.get("class")}}
            ]
        elif tag in _INLINE_MARKS:
            mark = {"type": _INLINE_MARKS[tag]}
            if not any(m["type"] == mark["type"] for m in marks):
                new_marks = marks + [mark]
        for child in el.children:
            if isinstance(child, HText):
                self._inline_text(child.data, new_marks, buf)
            else:
                self._inline(child, new_marks, buf)

    def _inline_text(self, data: str, marks: list[dict], buf: list[dict]) -> None:
        text = _collapse_ws(data)
        if text == "":
            return
        # Opt-in math nodes (see __init__): scan text runs for LaTeX
        # spans.  Conservative per-run detection: '$…$' with
        # non-space, non-empty content (so '$5 and $10' stays text) and
        # '\(…\)'.  The original delimiter is kept on the node so the
        # plain-text projection reproduces the source bytes exactly.
        if self.math_nodes and ("$" in text or "\\(" in text):
            pos = 0
            for m in _MATH_RE.finditer(text):
                if m.start() > pos:
                    self._emit_text(text[pos:m.start()], marks, buf)
                dollar = m.group(1) is not None
                buf.append({
                    "type": "mathematics",
                    "attrs": {"latex": m.group(1) if dollar else m.group(2),
                              "delim": "$" if dollar else "\\("},
                })
                pos = m.end()
            if pos:
                if pos < len(text):
                    self._emit_text(text[pos:], marks, buf)
                return
        self._emit_text(text, marks, buf)

    def _emit_text(self, text: str, marks: list[dict], buf: list[dict]) -> None:
        if text == "":
            return
        if text == " " and not buf:
            return  # whitespace-only run opens no implicit textblock
        if text.startswith(" ") and buf:
            last = buf[-1]
            # collapse across node boundaries: after trailing-space text
            # or a <br>, a leading space is dropped (DOM parser rule)
            if last.get("type") == "hardBreak" or (
                last.get("type") == "text" and last["text"].endswith(" ")
            ):
                text = text[1:]
                if text == "":
                    return
        node: dict = {"type": "text", "text": text}
        if marks:
            node["marks"] = [dict(m, attrs=dict(m["attrs"])) if "attrs" in m else dict(m) for m in marks]
        # merge with previous text node when marks match
        if buf and buf[-1].get("type") == "text" and buf[-1].get("marks") == node.get("marks"):
            buf[-1]["text"] += node["text"]
        else:
            buf.append(node)


def _make_paragraph(inline: list[dict], strip_leading: bool = True) -> dict | None:
    # no defensive copy: _finish_inline reads buf and returns a fresh
    # slice; callers may clear() their buffer right after
    content = _finish_inline(inline, strip_leading)
    if not content:
        return None
    return {"type": "paragraph", "content": content}


def _finish_inline(buf: list[dict], strip_leading: bool = True) -> list[dict]:
    """Close out an inline run (ProseMirror whitespace model): trailing
    whitespace is always stripped at the block end; leading whitespace
    is stripped only for explicitly-opened textblocks (p/heading/…) —
    implicit wraps keep their single collapsed leading space.

    Nodes are NOT copied (each inline node object flows into exactly
    one tree position); only an edge text node whose text actually
    changes is replaced by a fresh dict.  This was the hottest
    allocation site in the kernel profile (one dict copy per node per
    block close)."""
    # HTML whitespace is ASCII-only (collapsed to ' ' upstream): a
    # Unicode str.strip() here would eat &nbsp; (U+00A0), which the
    # reference keeps as real text.
    if not buf:
        return buf
    # fast path — both edges already clean (the dominant shape: one
    # merged text node with no edge spaces, or non-text edge nodes,
    # which the trim rules never touch).  Text nodes are never empty
    # (_emit_text guards), so the [-1]/[0] indexes are safe.  Returns
    # a fresh list to keep the contract below (callers may clear()).
    last = buf[-1]
    if last.get("type") != "text" or not last["text"].endswith(" "):
        first = buf[0]
        if not strip_leading or first.get("type") != "text" \
                or not first["text"].startswith(" "):
            return buf[:]
    end = len(buf)
    while end and buf[end - 1].get("type") == "text" \
            and buf[end - 1]["text"].strip(" ") == "":
        end -= 1
    start = 0
    if strip_leading:
        while start < end and buf[start].get("type") == "text" \
                and buf[start]["text"].strip(" ") == "":
            start += 1
    out = buf[start:end]
    if strip_leading and out and out[0].get("type") == "text":
        t = out[0]["text"]
        lt = t.lstrip(" ")
        if lt != t:
            out[0] = {**out[0], "text": lt}
    if out and out[-1].get("type") == "text":
        t = out[-1]["text"]
        rt = t.rstrip(" ")
        if rt != t:
            out[-1] = {**out[-1], "text": rt}
    # no empty-text filter needed: builders never emit ''-text nodes and
    # the edge strips above cannot produce one (all-space edges were
    # popped by the while loops)
    return out


def _trim_inline(buf: list[dict]) -> list[dict]:
    return _finish_inline(buf, strip_leading=True)


def _code_text_content(pre: HElement) -> list[dict]:
    """codeBlock text is preserved VERBATIM — including a leading
    newline after ``<pre>``: the reference's parse path keeps it (every
    sample/doc_cbor.json codeBlock whose source starts ``<pre>\\n``
    begins with ``\\n``; no browser-style first-newline swallow)."""
    from .htmlkit import element_text

    text = element_text(pre)
    return [{"type": "text", "text": text}] if text else []


_ALIGN_RE = re.compile(r"text-align\s*:\s*(left|right|center|justify)", re.I)
_COLOR_RE = re.compile(r"(?<![-\w])color\s*:\s*([^;]+)", re.I)

# LaTeX spans inside plain text runs: '$…$' (no '$' inside, no space at
# either content edge, not glued to a word/'$'/backslash on the left or
# a word character on the right) or '\(…\)'.
_MATH_RE = re.compile(
    r"(?<![\\$\w])\$(?!\s)((?:\\.|[^$\n])+?)(?<!\s)\$(?!\w)"
    r"|\\\((.+?)\\\)"
)

# TextAlign.configure types (src/tiptap.ts:81-89)
_ALIGN_TYPES = frozenset(
    ("heading", "paragraph", "codeBlock", "blockquote", "table", "tableCell")
)


def _with_align(node: dict, el: HElement) -> dict:
    """X6 TextAlign: lift ``style="text-align: …"`` into a
    ``textAlign`` attr on the configured block types.  The attr is only
    added when the source declares one — aligned with the reference
    golden, whose nodes carry no textAlign key for unstyled pages."""
    style = el.attrs.get("style")
    if style and node.get("type") in _ALIGN_TYPES:
        m = _ALIGN_RE.search(style)
        if m:
            attrs = dict(node.get("attrs") or {})
            attrs["textAlign"] = m.group(1).lower()
            node["attrs"] = attrs
    return node


def _youtube_node(el: HElement) -> dict | None:
    """X6 Youtube embed (src/tiptap.ts:98-100, inline:false): an iframe
    whose src is a youtube player URL becomes a ``youtube`` block node;
    other iframes are dropped (no embeddable content)."""
    src = el.attrs.get("src") or ""
    if "youtube.com/embed/" not in src and "youtu.be/" not in src \
            and "youtube-nocookie.com/embed/" not in src:
        return None
    return {
        "type": "youtube",
        "attrs": {
            "src": src,
            "start": _int_attr(el, "start", 0),
            "width": _int_attr(el, "width", 640),
            "height": _int_attr(el, "height", 480),
        },
    }


def _image_node(el: HElement) -> dict:
    return {
        "type": "image",
        "attrs": {
            "src": el.attrs.get("src") or None,
            "alt": el.attrs.get("alt") or None,
            "title": el.attrs.get("title") or None,
        },
    }


def _int_attr(el: HElement, name: str, default: int) -> int:
    try:
        return int(el.attrs.get(name, default))
    except (TypeError, ValueError):
        return default


def html_to_doc(html: str, math_nodes: bool = False) -> dict:
    """X6: parse HTML into an (un-amended) tiptap-style doc node.
    ``math_nodes`` opts into typed Mathematics nodes (off by default
    for reference doc-format parity — see ``_DocBuilder``)."""
    return _DocBuilder(math_nodes).build(parse_html(html))


def element_to_doc(el, math_nodes: bool = False) -> dict:
    """X6 over an already-parsed element: equivalent to ``html_to_doc``
    over the element's serialized children (serializer/parser roundtrip
    is identity) without the serialize + re-parse pass."""
    return _DocBuilder(math_nodes).build(el)


# ---------------------------------------------------------------------------
# X7: amendment (reference JSONDocumentAmender, src/tiptap.ts:115-188)
# ---------------------------------------------------------------------------


def amend_node(node: dict | None, ids: DeterministicIds) -> dict | None:
    """Reproduces ``JSONDocumentAmender.amendNode`` semantics:

    * drop ``invalid`` nodes;
    * ``image`` without ``attrs.src`` → invalid;
    * empty / hardBreak-only ``paragraph`` → invalid;
    * assign/dedupe 6-char ids on UID_TYPES (attrs cloned);
    * rewrite link marks: drop ``class``, force
      ``rel='noopener noreferrer'``, ``target='_blank'``;
    * recurse into content and filter invalid children.
    """
    if not node:
        return None
    ntype = node.get("type")
    if ntype == "invalid":
        return None

    if ntype == "image" and not (node.get("attrs") or {}).get("src"):
        node["type"] = "invalid"
        return node

    if ntype == "paragraph":
        content = node.get("content")
        if not content or (len(content) == 1 and content[0].get("type") == "hardBreak"):
            node["type"] = "invalid"
            return node

    attrs = node.get("attrs")
    if attrs is None:
        if ntype in UID_TYPES:
            node["attrs"] = {"id": ids.fresh_id()}
    else:
        attrs = dict(attrs)
        node["attrs"] = attrs
        if ntype in UID_TYPES:
            attrs["id"] = ids.amend_id(attrs.get("id"))

    marks = node.get("marks")
    if marks is not None:
        for mark in marks:
            if mark.get("type") == "link" and mark.get("attrs") is not None:
                mark["attrs"].pop("class", None)
                mark["attrs"]["rel"] = "noopener noreferrer"
                mark["attrs"]["target"] = "_blank"

    content = node.get("content")
    if content is not None:
        drop = False
        for child in content:
            amend_node(child, ids)
            if child.get("type") == "invalid":
                drop = True
        if drop:
            node["content"] = [
                c for c in content if c.get("type") != "invalid"
            ]

    return node


def parse_html_to_doc(html: str, seed: str = "",
                      math_nodes: bool = False) -> dict:
    """X6+X7 combined (reference ``parseHTML``, src/tiptap.ts:190-194)."""
    doc = html_to_doc(html, math_nodes)
    amend_node(doc, DeterministicIds(seed))
    return doc


# ---------------------------------------------------------------------------
# X8: node tree → canonical HTML (reference toHTML, src/html.ts:15-31)
# ---------------------------------------------------------------------------

_MARK_TAGS = {
    "bold": "strong",
    "italic": "em",
    "underline": "u",
    "strike": "s",
    "code": "code",
    "subscript": "sub",
    "superscript": "sup",
}


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _esc_attr(s: str) -> str:
    return _esc(s).replace('"', "&quot;")


def _render_inline(node: dict, out: list[str]) -> None:
    if node.get("type") == "hardBreak":
        out.append("<br>")
        return
    if node.get("type") == "image":
        _render_image(node, out)
        return
    if node.get("type") in ("mention", "emoji", "mathematics"):
        _render_node(node, out)
        return
    text = _esc(node.get("text", ""))
    for mark in reversed(node.get("marks") or []):
        mtype = mark.get("type")
        if mtype == "link":
            attrs = mark.get("attrs") or {}
            a = f'<a href="{_esc_attr(attrs.get("href") or "")}"'
            if attrs.get("target"):
                a += f' target="{_esc_attr(attrs["target"])}"'
            if attrs.get("rel"):
                a += f' rel="{_esc_attr(attrs["rel"])}"'
            text = a + ">" + text + "</a>"
        elif mtype == "textStyle":
            color = (mark.get("attrs") or {}).get("color")
            if color:
                text = (f'<span style="color: {_esc_attr(color)}">'
                        f"{text}</span>")
        elif mtype in _MARK_TAGS:
            tag = _MARK_TAGS[mtype]
            text = f"<{tag}>{text}</{tag}>"
    out.append(text)


def _render_image(node: dict, out: list[str]) -> None:
    attrs = node.get("attrs") or {}
    s = f'<img src="{_esc_attr(attrs.get("src") or "")}"'
    if attrs.get("alt"):
        s += f' alt="{_esc_attr(attrs["alt"])}"'
    if attrs.get("title"):
        s += f' title="{_esc_attr(attrs["title"])}"'
    out.append(s + ">")


def _id_attr(node: dict) -> str:
    nid = (node.get("attrs") or {}).get("id")
    return f' id="{_esc_attr(nid)}"' if nid else ""


def _style_attr(node: dict) -> str:
    align = (node.get("attrs") or {}).get("textAlign")
    return f' style="text-align: {_esc_attr(align)}"' if align else ""


def _render_node(node: dict, out: list[str]) -> None:
    ntype = node.get("type")
    content = node.get("content") or []

    def children() -> None:
        for child in content:
            _render_node(child, out)

    def inline_children() -> None:
        for child in content:
            _render_inline(child, out)

    if ntype == "doc":
        children()
    elif ntype == "paragraph":
        out.append(f"<p{_id_attr(node)}{_style_attr(node)}>")
        inline_children()
        out.append("</p>")
    elif ntype == "heading":
        level = (node.get("attrs") or {}).get("level", 1)
        out.append(f"<h{level}{_id_attr(node)}{_style_attr(node)}>")
        inline_children()
        out.append(f"</h{level}>")
    elif ntype == "codeBlock":
        out.append(f"<pre{_id_attr(node)}{_style_attr(node)}><code>")
        for child in content:
            out.append(_esc(child.get("text", "")))
        out.append("</code></pre>")
    elif ntype == "blockquote":
        out.append(f"<blockquote{_id_attr(node)}{_style_attr(node)}>")
        children()
        out.append("</blockquote>")
    elif ntype == "bulletList":
        out.append("<ul>")
        children()
        out.append("</ul>")
    elif ntype == "orderedList":
        start = (node.get("attrs") or {}).get("start", 1)
        out.append(f'<ol start="{start}">' if start != 1 else "<ol>")
        children()
        out.append("</ol>")
    elif ntype == "listItem":
        out.append(f"<li{_id_attr(node)}>")
        children()
        out.append("</li>")
    elif ntype == "table":
        out.append("<table><tbody>")
        children()
        out.append("</tbody></table>")
    elif ntype == "tableRow":
        out.append("<tr>")
        children()
        out.append("</tr>")
    elif ntype in ("tableCell", "tableHeader"):
        tag = "th" if ntype == "tableHeader" else "td"
        attrs = node.get("attrs") or {}
        extra = ""
        if attrs.get("colspan", 1) != 1:
            extra += f' colspan="{attrs["colspan"]}"'
        if attrs.get("rowspan", 1) != 1:
            extra += f' rowspan="{attrs["rowspan"]}"'
        out.append(f"<{tag}{_id_attr(node)}{extra}{_style_attr(node)}>")
        children()
        out.append(f"</{tag}>")
    elif ntype == "taskList":
        out.append('<ul data-type="taskList">')
        children()
        out.append("</ul>")
    elif ntype == "taskItem":
        checked = "true" if (node.get("attrs") or {}).get("checked") else "false"
        out.append(f'<li{_id_attr(node)} data-type="taskItem" '
                   f'data-checked="{checked}">')
        children()
        out.append("</li>")
    elif ntype == "youtube":
        attrs = node.get("attrs") or {}
        out.append('<div data-youtube-video><iframe '
                   f'src="{_esc_attr(attrs.get("src") or "")}" '
                   f'width="{attrs.get("width", 640)}" '
                   f'height="{attrs.get("height", 480)}"></iframe></div>')
    elif ntype == "mention":
        attrs = node.get("attrs") or {}
        mid = attrs.get("id") or ""
        out.append(f'<span data-type="mention" data-id="{_esc_attr(mid)}">'
                   f"@{_esc(attrs.get('label') or mid)}</span>")
    elif ntype == "emoji":
        attrs = node.get("attrs") or {}
        out.append('<span data-type="emoji" '
                   f'data-name="{_esc_attr(attrs.get("name") or "")}">'
                   f"{_esc(attrs.get('text') or '')}</span>")
    elif ntype == "mathematics":
        attrs = node.get("attrs") or {}
        latex = attrs.get("latex") or ""
        out.append('<span data-type="mathematics" '
                   f'data-latex="{_esc_attr(latex)}">{_esc(latex)}</span>')
    elif ntype == "horizontalRule":
        out.append("<hr>")
    elif ntype == "details":
        out.append("<details>")
        children()
        out.append("</details>")
    elif ntype == "detailsSummary":
        out.append(f"<summary{_id_attr(node)}>")
        inline_children()
        out.append("</summary>")
    elif ntype == "detailsContent":
        out.append(f"<div{_id_attr(node)} data-type="
                   '"detailsContent">')
        children()
        out.append("</div>")
    elif ntype == "image":
        _render_image(node, out)
    elif ntype in ("text", "hardBreak"):
        _render_inline(node, out)
    else:  # unknown node types render their children transparently
        children()


def doc_to_html(doc: dict) -> str:
    """X8: canonical HTML rendering of an (amended) doc tree."""
    out: list[str] = []
    _render_node(doc, out)
    return "".join(out)


# ---------------------------------------------------------------------------
# X10: findTitle (reference src/tiptap.ts:200-220)
# ---------------------------------------------------------------------------


def find_title(doc: dict, level: int) -> str:
    """DFS for the first heading at ``level``; its text children joined
    with ``' '`` (exact reference semantics)."""
    if doc.get("type") == "heading":
        if (doc.get("attrs") or {}).get("level") == level and doc.get("content"):
            return " ".join(
                child.get("text", "")
                for child in doc["content"]
                if child.get("type") == "text"
            )
        return ""
    for child in doc.get("content") or []:
        title = find_title(child, level)
        if title != "":
            return title
    return ""


# ---------------------------------------------------------------------------
# Pinned plain-text projection (the byte-parity target column)
# ---------------------------------------------------------------------------

_TEXTBLOCK_TYPES = frozenset(
    ("paragraph", "heading", "codeBlock", "detailsSummary")
)


def doc_to_text(doc: dict) -> str:
    """Pinned plain-text rendering: one line per textblock node in
    pre-order, inline text concatenated (hardBreak → ``'\\n'``), lines
    joined with ``'\\n'``.  This is THE byte-parity contract column."""
    lines: list[str] = []

    def walk(node: dict) -> None:
        ntype = node.get("type")
        if ntype in _TEXTBLOCK_TYPES:
            parts: list[str] = []
            for child in node.get("content") or []:
                ctype = child.get("type")
                if ctype == "text":
                    parts.append(child.get("text", ""))
                elif ctype == "hardBreak":
                    parts.append("\n")
                elif ctype == "mention":
                    a = child.get("attrs") or {}
                    parts.append(f"@{a.get('label') or a.get('id') or ''}")
                elif ctype == "emoji":
                    a = child.get("attrs") or {}
                    parts.append(a.get("text") or a.get("name") or "")
                elif ctype == "mathematics":
                    # reproduce the SOURCE bytes (delimiters included)
                    # so extracted-text parity is unaffected by math
                    # node recognition
                    a = child.get("attrs") or {}
                    d = a.get("delim") or "$"
                    close = "\\)" if d == "\\(" else d
                    parts.append(f"{d}{a.get('latex') or ''}{close}")
            line = "".join(parts)
            if line.strip() != "":
                lines.append(line)
            return
        for child in node.get("content") or []:
            walk(child)

    walk(doc)
    return "\n".join(lines)
