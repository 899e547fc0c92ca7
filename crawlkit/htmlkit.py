"""Minimal HTML DOM with a fast single-pass tokenizer.

This is the substrate for the extraction kernel (SURVEY.md §2.9).  The
reference uses cheerio/parse5 (``/root/reference/src/crawler.ts:31-84``);
we only need the subset of DOM semantics that kernel exercises:

* parse → element tree (lenient about stray end tags),
* ``$(tag)``-style document-order tag search,
* cheerio ``.text()`` (concatenated descendant text, entity-decoded,
  no whitespace normalisation),
* ``.parent()``, ``.remove()``, ``.html()`` (inner HTML serialisation).

No third-party parser is available in this environment (no lxml/bs4),
and the parity contract (BASELINE.json ``input_hint``) is defined on the
pinned *text* output of this kernel.  Parsing runs through
:func:`_parse_fast` — a single-pass tokenizer that replicates the stdlib
``HTMLParser(convert_charrefs=True)`` token semantics exactly (round 4:
the stdlib parser's per-token dispatch was ~30%% of kernel time) — with
the stdlib-driven :func:`_parse_stdlib` kept as the differential-tested
semantics oracle.
"""

from __future__ import annotations

import re
from html import escape, unescape
from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Elements whose raw content the stdlib parser hands us as text; we keep
# the text but callers typically strip the element (X4 script strip).
RAW_TEXT_ELEMENTS = frozenset(("script", "style"))


class HNode:
    __slots__ = ("parent",)

    def __init__(self) -> None:
        self.parent: "HElement | None" = None


class HText(HNode):
    __slots__ = ("data",)

    def __init__(self, data: str) -> None:
        super().__init__()
        self.data = data

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"HText({self.data!r})"


class HElement(HNode):
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None) -> None:
        super().__init__()
        self.tag = tag
        self.attrs: dict[str, str] = attrs or {}
        self.children: list[HNode] = []

    def append(self, node: HNode) -> None:
        node.parent = self
        self.children.append(node)

    def remove_child(self, node: HNode) -> None:
        self.children.remove(node)
        node.parent = None

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"HElement(<{self.tag}> {len(self.children)} children)"


class HRoot(HElement):
    """Parse root carrying a document-order tag index built during the
    single parse pass, so ``$(tag)`` lookups (h1/h2/head/a/script — the
    kernel does five per page) are dict reads instead of five full-tree
    DFS walks.  ``remove_all`` keeps the index consistent; removed
    subtrees cannot hide indexed elements because raw-text elements
    (script/style) have no element children."""

    __slots__ = ("tag_index",)

    def __init__(self) -> None:
        super().__init__("#root")
        self.tag_index: dict[str, list[HElement]] = {}


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = HRoot()
        self.stack: list[HElement] = [self.root]
        self._index = self.root.tag_index

    # -- tag handling ---------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        el = HElement(tag, {k: (v if v is not None else "") for k, v in attrs}
                      if attrs else None)
        parent = self.stack[-1]
        el.parent = parent
        parent.children.append(el)
        bucket = self._index.get(tag)
        if bucket is None:
            self._index[tag] = [el]
        else:
            bucket.append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        el = HElement(tag, {k: (v if v is not None else "") for k, v in attrs}
                      if attrs else None)
        parent = self.stack[-1]
        el.parent = parent
        parent.children.append(el)
        bucket = self._index.get(tag)
        if bucket is None:
            self._index[tag] = [el]
        else:
            bucket.append(el)

    def handle_endtag(self, tag: str) -> None:
        # Lenient recovery: close up to the nearest matching open element;
        # ignore end tags that match nothing (parse5-style forgiveness).
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].append(HText(data))


def _parse_stdlib(html: str) -> HRoot:
    """Reference parse path: the stdlib :class:`HTMLParser` driving
    :class:`_TreeBuilder`.  Kept as the semantics oracle the fast
    tokenizer is differential-tested against."""
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


# -- fast single-pass tokenizer ------------------------------------------
#
# ~30% of per-page kernel time was the stdlib parser's per-token method
# dispatch (goahead -> parse_starttag -> check_for_whole_start_tag ->
# handle_starttag -> ...).  This tokenizer produces the IDENTICAL tree —
# same token boundaries, same text-node segmentation, same leniency — by
# replicating HTMLParser(convert_charrefs=True).feed(s); close() semantics
# in one loop:
#   * the exact-path regexes ARE the stdlib's own compiled patterns
#     (tagfind/attrfind/locatestarttagend/endtagfind/commentclose), so
#     tolerant-parsing corner cases can't drift;
#   * two fast paths (attr-less tags; well-formed double-quoted attrs
#     without '&') skip the big verbose regex + per-attr loop, and are
#     strictly narrower than the exact path (anything they don't match
#     falls through, so they can only agree);
#   * parity is pinned by a differential test corpus + hypothesis fuzz
#     (tests/test_htmlkit_fast.py) comparing full tree dumps, INCLUDING
#     text-node boundaries, against _parse_stdlib.

_TAGFIND = re.compile(r'([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*')
_ATTRFIND = re.compile(
    r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
    r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*')
_LOCATESTART = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", re.VERBOSE)
_ENDTAGFIND = re.compile(r'</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>')
_COMMENTCLOSE = re.compile(r'--\s*>')
_MARKEDCLOSE = re.compile(r']\s*]\s*>')
_MSMARKEDCLOSE = re.compile(r']\s*>')
_DECLNAME = re.compile(r'[a-zA-Z][-_.a-zA-Z0-9]*\s*')
# fast path 1: attr-less start tag (<p>, <h1>, <DIV>)
_SIMPLE_TAG = re.compile(r'([a-zA-Z][a-zA-Z0-9]*)>')
# fast path 2: whitespace-separated attrs, double-quoted '&'-free values
# or bare names; strictly narrower than _ATTRFIND's grammar
_FAST_ATTRS_TAG = re.compile(
    r'([a-zA-Z][a-zA-Z0-9]*)'
    r'((?:\s+[a-zA-Z_][-a-zA-Z0-9_:.]*(?:="[^"&]*")?)+)\s*(/?)>')
_FAST_ATTR = re.compile(r'([a-zA-Z_][-a-zA-Z0-9_:.]*)(?:="([^"&]*)")?')
# end tags share the start-tag fast-path grammar
_SIMPLE_END = _SIMPLE_TAG
_CDATA_CLOSE = {
    "script": re.compile(r'</\s*script\s*>', re.IGNORECASE),
    "style": re.compile(r'</\s*style\s*>', re.IGNORECASE),
}
_TAGSTART_LETTERS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
_BOUNDARY_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/")

_HTEXT_NEW = HText.__new__
_HELEMENT_NEW = HElement.__new__


def _parse_fast(rawdata: str) -> HRoot:
    root = HRoot()
    stack = [root]
    index = root.tag_index
    n = len(rawdata)
    i = 0
    find = rawdata.find
    startswith = rawdata.startswith

    def emit_text(data: str) -> None:
        if data:
            top = stack[-1]
            t = _HTEXT_NEW(HText)
            t.data = data
            t.parent = top
            top.children.append(t)

    def bad_token_tail(i: int) -> int:
        # goahead's end-of-input recovery when a parse_* helper cannot
        # terminate a token: emit through the next '>' (or up to the
        # next '<', or one char) as unescaped text, resume after it.
        k = find('>', i + 1)
        if k < 0:
            k = find('<', i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        data = rawdata[i:k]
        emit_text(unescape(data) if '&' in data else data)
        return k

    def insert(tag: str, attrs: dict[str, str] | None, push: bool) -> HElement:
        el = _HELEMENT_NEW(HElement)
        el.tag = tag
        el.attrs = attrs if attrs is not None else {}
        el.children = []
        parent = stack[-1]
        el.parent = parent
        parent.children.append(el)
        bucket = index.get(tag)
        if bucket is None:
            index[tag] = [el]
        else:
            bucket.append(el)
        if push and tag not in VOID_ELEMENTS:
            stack.append(el)
        return el

    def close_tag(tag: str) -> None:
        # lenient recovery: close up to the nearest matching open
        # element; ignore end tags that match nothing
        for idx in range(len(stack) - 1, 0, -1):
            if stack[idx].tag == tag:
                del stack[idx:]
                return

    def enter_cdata(tag: str, content_start: int) -> int:
        # script/style raw-text mode: content is NOT entity-decoded;
        # unterminated content is dropped (stdlib close() parity)
        m = _CDATA_CLOSE[tag].search(rawdata, content_start)
        if m is None:
            return n
        if m.start() > content_start:
            emit_text(rawdata[content_start:m.start()])
        close_tag(tag)
        return m.end()

    simple_tag_match = _SIMPLE_TAG.match
    simple_end_match = _SIMPLE_END.match
    htext_new = _HTEXT_NEW
    helement_new = _HELEMENT_NEW
    index_get = index.get
    void = VOID_ELEMENTS

    while i < n:
        j = find('<', i)
        if j < 0:
            data = rawdata[i:]
            if '&' in data:
                data = unescape(data)
            if data:
                top = stack[-1]
                t = htext_new(HText)
                t.data = data
                t.parent = top
                top.children.append(t)
            break
        if j > i:
            data = rawdata[i:j]
            if '&' in data:
                data = unescape(data)
            top = stack[-1]
            t = htext_new(HText)
            t.data = data
            t.parent = top
            top.children.append(t)
        i = j
        c = rawdata[j + 1:j + 2]
        if c and c in _TAGSTART_LETTERS:
            # ---- start tag ----
            m = simple_tag_match(rawdata, i + 1)
            if m is not None:
                tag = m.group(1).lower()
                el = helement_new(HElement)
                el.tag = tag
                el.attrs = {}
                el.children = []
                parent = stack[-1]
                el.parent = parent
                parent.children.append(el)
                bucket = index_get(tag)
                if bucket is None:
                    index[tag] = [el]
                else:
                    bucket.append(el)
                i = m.end()
                if tag not in void:
                    stack.append(el)
                    if tag in RAW_TEXT_ELEMENTS:
                        i = enter_cdata(tag, i)
                continue
            m = _FAST_ATTRS_TAG.match(rawdata, i + 1)
            if m is not None:
                tag = m.group(1).lower()
                attrs: dict[str, str] = {}
                for am in _FAST_ATTR.finditer(m.group(2)):
                    v = am.group(2)
                    attrs[am.group(1).lower()] = v if v is not None else ""
                selfclosing = m.group(3) == "/"
                insert(tag, attrs, not selfclosing)
                i = m.end()
                if not selfclosing and tag in RAW_TEXT_ELEMENTS:
                    i = enter_cdata(tag, i)
                continue
            # exact path (stdlib parse_starttag + check_for_whole_start_tag)
            lm = _LOCATESTART.match(rawdata, i)
            jj = lm.end()
            nxt = rawdata[jj:jj + 1]
            if nxt == ">":
                endpos = jj + 1
            elif nxt == "/":
                if startswith("/>", jj):
                    endpos = jj + 2
                else:
                    i = bad_token_tail(i)
                    continue
            elif nxt == "":
                i = bad_token_tail(i)
                continue
            elif nxt in _BOUNDARY_CHARS:
                i = bad_token_tail(i)
                continue
            else:
                endpos = jj if jj > i else i + 1
            tm = _TAGFIND.match(rawdata, i + 1)
            k = tm.end()
            tag = tm.group(1).lower()
            attrs = {}
            while k < endpos:
                am = _ATTRFIND.match(rawdata, k)
                if am is None:
                    break
                attrname, rest, attrvalue = am.group(1, 2, 3)
                if not rest:
                    attrvalue = None
                elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                        attrvalue[:1] == '"' == attrvalue[-1:]:
                    attrvalue = attrvalue[1:-1]
                if attrvalue and '&' in attrvalue:
                    attrvalue = unescape(attrvalue)
                attrs[attrname.lower()] = attrvalue if attrvalue is not None else ""
                k = am.end()
            end = rawdata[k:endpos].strip()
            if end not in (">", "/>"):
                # bogus start tag: raw source becomes text (no unescape)
                emit_text(rawdata[i:endpos])
                i = endpos
                continue
            if end == "/>":
                insert(tag, attrs, False)
            else:
                insert(tag, attrs, True)
                if tag in RAW_TEXT_ELEMENTS:
                    i = enter_cdata(tag, endpos)
                    continue
            i = endpos
        elif c == "/":
            # ---- end tag ----
            m = simple_end_match(rawdata, i + 2)
            if m is not None:
                tag = m.group(1).lower()
                for idx in range(len(stack) - 1, 0, -1):
                    if stack[idx].tag == tag:
                        del stack[idx:]
                        break
                i = m.end()
                continue
            gm = find('>', i + 1)
            if gm < 0:
                i = bad_token_tail(i)
                continue
            em = _ENDTAGFIND.match(rawdata, i)
            if em is not None:
                close_tag(em.group(1).lower())
                i = gm + 1
                continue
            nm = _TAGFIND.match(rawdata, i + 2)
            if nm is None:
                if rawdata[i:i + 3] == "</>":
                    i += 3
                else:
                    # bogus comment: consume through '>' silently
                    pos = find('>', i + 2)
                    i = pos + 1 if pos >= 0 else bad_token_tail(i)
                continue
            close_tag(nm.group(1).lower())
            i = find('>', nm.end()) + 1
        elif c == "!":
            if startswith("<!--", i):
                cm = _COMMENTCLOSE.search(rawdata, i + 4)
                i = cm.end() if cm is not None else bad_token_tail(i)
            elif startswith("<![", i):
                if i + 3 == n:
                    i = bad_token_tail(i)
                    continue
                sm = _DECLNAME.match(rawdata, i + 3)
                if sm is None:
                    raise AssertionError(
                        "expected name token at %r" % rawdata[i:i + 20])
                if sm.end() == n:
                    i = bad_token_tail(i)
                    continue
                sect = sm.group().strip().lower()
                if sect in ("temp", "cdata", "ignore", "include", "rcdata"):
                    km = _MARKEDCLOSE.search(rawdata, i + 3)
                elif sect in ("if", "else", "endif"):
                    km = _MSMARKEDCLOSE.search(rawdata, i + 3)
                else:
                    raise AssertionError(
                        "unknown status keyword %r in marked section"
                        % rawdata[i + 3:sm.end()])
                i = km.end() if km is not None else bad_token_tail(i)
            elif rawdata[i:i + 9].lower() == "<!doctype":
                pos = find('>', i + 9)
                i = pos + 1 if pos >= 0 else bad_token_tail(i)
            else:
                # bogus comment (<!foo ...>): consumed, ignored
                pos = find('>', i + 2)
                i = pos + 1 if pos >= 0 else bad_token_tail(i)
        elif c == "?":
            # processing instruction: consumed, ignored
            pos = find('>', i + 2)
            i = pos + 1 if pos >= 0 else bad_token_tail(i)
        else:
            # lone '<' (next char not a token starter, or end of input)
            emit_text("<")
            i += 1
    return root


def parse_html(html: str) -> HElement:
    """Parse HTML into a tree rooted at a synthetic ``#root`` element.

    Uses the fast single-pass tokenizer (differential-tested against the
    stdlib parser)."""
    return _parse_fast(html)


# -- query / traversal helpers -----------------------------------------


def iter_elements(root: HElement):
    """Yield elements in document order (pre-order DFS)."""
    stack = [root]
    while stack:
        node = stack.pop()
        if isinstance(node, HElement):
            if node is not root:
                yield node
            stack.extend(reversed(node.children))


def find_all(root: HElement, tag: str) -> list[HElement]:
    """``$(tag)`` — all elements with the tag, in document order.
    O(1) off the parse-time index when ``root`` is the parse root
    (append order during parse IS pre-order document order); DFS for
    arbitrary subtrees."""
    if isinstance(root, HRoot) and root.tag_index is not None:
        return list(root.tag_index.get(tag, ()))
    return [el for el in iter_elements(root) if el.tag == tag]


def element_text(node: HNode) -> str:
    """cheerio ``.text()``: concatenated descendant text, verbatim."""
    if isinstance(node, HText):
        return node.data
    parts: list[str] = []
    stack = list(reversed(node.children)) if isinstance(node, HElement) else []
    while stack:
        cur = stack.pop()
        if isinstance(cur, HText):
            parts.append(cur.data)
        else:
            stack.extend(reversed(cur.children))
    return "".join(parts)


def selection_text(elements: list[HElement]) -> str:
    """``getCheerioText`` (reference ``src/crawler.ts:42-47``): each
    element's ``.text().trim()``, joined with a single space."""
    return " ".join(element_text(el).strip() for el in elements)


def unique_parents(elements: list[HElement]) -> list[HElement]:
    """cheerio ``.parent()`` on a selection: unique parents, doc order."""
    seen: dict[int, HElement] = {}
    for el in elements:
        p = el.parent
        if p is not None and id(p) not in seen:
            seen[id(p)] = p
    return list(seen.values())


def remove_all(root: HElement, tag: str) -> None:
    """``$(tag).remove()`` (reference ``src/crawler.ts:73``).

    Safe on ANY subtree, not just the parse root: the owning
    :class:`HRoot` is located via parent pointers and its tag index is
    maintained (raw-text tags: detached elements dropped from the
    bucket) or invalidated (container tags: descendants could be
    orphaned), so a later ``find_all`` on the root can never return a
    detached node."""
    removed: list[HElement] = []
    for el in find_all(root, tag):
        if el.parent is not None:
            el.parent.remove_child(el)
            removed.append(el)
    top = root
    while top.parent is not None:
        top = top.parent
    if isinstance(top, HRoot) and top.tag_index is not None:
        if tag in RAW_TEXT_ELEMENTS:
            # raw-text elements have no element children — no other
            # index bucket can reference a detached descendant; drop
            # exactly the detached ones (the whole bucket when called
            # on the root itself)
            if top is root:
                top.tag_index.pop(tag, None)
            else:
                gone = {id(e) for e in removed}
                kept = [e for e in top.tag_index.get(tag, ())
                        if id(e) not in gone]
                if kept:
                    top.tag_index[tag] = kept
                else:
                    top.tag_index.pop(tag, None)
        else:
            # removing a container could orphan indexed descendants;
            # invalidate the index so find_all falls back to DFS
            top.tag_index = None


# -- serialisation -------------------------------------------------------


def _serialize_into(node: HNode, out: list[str]) -> None:
    if isinstance(node, HText):
        parent = node.parent
        if parent is not None and parent.tag in RAW_TEXT_ELEMENTS:
            out.append(node.data)
        else:
            out.append(escape(node.data, quote=False))
        return
    el = node  # type: ignore[assignment]
    attrs = "".join(
        f' {k}="{escape(v, quote=True)}"' for k, v in el.attrs.items()
    )
    if el.tag in VOID_ELEMENTS:
        out.append(f"<{el.tag}{attrs}>")
        return
    out.append(f"<{el.tag}{attrs}>")
    for child in el.children:
        _serialize_into(child, out)
    out.append(f"</{el.tag}>")


def utf8_len(s: str) -> int:
    """UTF-8 byte length without materializing the bytes for the
    overwhelmingly-common ASCII case."""
    return len(s) if s.isascii() else len(s.encode("utf-8"))


def utf16_len(s: str) -> int:
    """JS ``String.length``: UTF-16 code units — astral-plane chars
    (emoji etc.) count 2.  The reference's length comparisons
    (e.g. the X5 region climb, crawler.ts:75-80) are JS string
    lengths, so parity code must count code units, not code points."""
    return len(s) if s.isascii() else len(s.encode("utf-16-le")) // 2


_utf8_len = utf8_len  # internal alias (serializer call sites)


def _escaped_utf8_len(s: str, quote: bool = False) -> int:
    """UTF-8 byte length of ``html.escape(s, quote)`` computed by
    COUNTING, never building the escaped string or its bytes:
    ``&``→``&amp;`` (+4), ``<``→``&lt;``/``>``→``&gt;`` (+3), and with
    ``quote``, ``"``→``&quot;`` and ``'``→``&#x27;`` (+5 each)."""
    n = _utf8_len(s) + 4 * s.count("&") + 3 * s.count("<") + 3 * s.count(">")
    if quote:
        n += 5 * s.count('"') + 5 * s.count("'")
    return n


def _edge_ws_utf8_len(nodes: list[HNode]) -> int:
    """UTF-8 bytes that ``str.strip()`` would remove from the
    serialization of ``nodes``.  Whitespace can only lead/trail the
    serialization via top-level TEXT nodes — an element's serialization
    starts with ``<`` and ends with ``>`` — and a text node's
    leading/trailing whitespace is never escape-expanded, so counting
    the raw whitespace bytes equals counting them post-escape."""
    lead = 0
    all_ws = True
    for node in nodes:
        if not isinstance(node, HText):
            all_ws = False
            break
        stripped = node.data.lstrip()
        if stripped:
            lead += _utf8_len(node.data) - _utf8_len(stripped)
            all_ws = False
            break
        lead += _utf8_len(node.data)
    if all_ws:
        # the whole serialization is whitespace: strip() yields ""
        return lead
    trail = 0
    for node in reversed(nodes):
        if not isinstance(node, HText):
            break
        stripped = node.data.rstrip()
        if stripped:
            trail += _utf8_len(node.data) - _utf8_len(stripped)
            break
        trail += _utf8_len(node.data)
    return lead + trail


def outer_html_utf8_len(el: HElement, trim: bool = False) -> int:
    """UTF-8 byte length of ``outer_html(el)`` WITHOUT building the
    string.  The kernel stores only the serialized-page length
    (reference caps cells at 1 MiB, model.ts:7); serializing a ~300 KB
    DOM into a throwaway string per page was pure memory-bandwidth
    waste — the scaling bottleneck on a shared bus.  Round 3: lengths
    come from C-speed ``str.count`` arithmetic (no escaped-string or
    bytes allocation per node either).

    ``trim=True`` counts ``outer_html(el).strip()`` instead — the
    reference trims the page before storing/guarding it
    (``setPage``, model.ts:77-79) — still without building the string:
    edge whitespace is only reachable through top-level text nodes."""
    nodes: list[HNode] = (
        list(el.children) if el.tag == "#root" else [el]
    )
    total = 0
    stack: list[HNode] = list(reversed(nodes))
    while stack:
        node = stack.pop()
        if isinstance(node, HText):
            parent = node.parent
            if parent is not None and parent.tag in RAW_TEXT_ELEMENTS:
                total += _utf8_len(node.data)
            else:
                total += _escaped_utf8_len(node.data)
            continue
        e = node  # HElement
        tag_bytes = _utf8_len(e.tag)  # names can be non-ASCII
        total += tag_bytes + 2  # '<tag>'
        for k, v in e.attrs.items():
            total += _utf8_len(k) + 4 + _escaped_utf8_len(v, quote=True)
        if e.tag in VOID_ELEMENTS:
            continue
        total += tag_bytes + 3  # '</tag>'
        stack.extend(reversed(e.children))
    if trim:
        total -= _edge_ws_utf8_len(nodes)
    return total


def outer_html(el: HElement) -> str:
    out: list[str] = []
    if el.tag == "#root":
        for child in el.children:
            _serialize_into(child, out)
    else:
        _serialize_into(el, out)
    return "".join(out)
