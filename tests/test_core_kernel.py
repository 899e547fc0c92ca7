"""Unit tests for the pure-Python extraction core (SURVEY.md §5 step 1)."""

from __future__ import annotations

import hashlib
import json
import pathlib
import re

import numpy as np
import pytest

from crawlkit import bloom, canon, cborlite
from crawlkit.doctree import (
    DeterministicIds,
    doc_to_html,
    doc_to_text,
    find_title,
    parse_html_to_doc,
)
from crawlkit.extract import _climb_content_region, extract_document
from crawlkit.htmlkit import element_text, find_all, parse_html, selection_text

GOLDEN = pathlib.Path(__file__).parent / "golden"
SAMPLE = pathlib.Path("/root/reference/sample/doc_page.html")


# -- htmlkit ----------------------------------------------------------------


def test_parse_and_text():
    root = parse_html("<div><p>a <b>b</b> c</p><p>d &amp; e</p></div>")
    ps = find_all(root, "p")
    assert [element_text(p) for p in ps] == ["a b c", "d & e"]
    assert selection_text(ps) == "a b c d & e"


def test_lenient_end_tags():
    root = parse_html("<div><p>x</div></b><p>y</p>")
    assert [element_text(p) for p in find_all(root, "p")] == ["x", "y"]


# -- extraction X1-X5 ---------------------------------------------------------

PAGE = """<html><head>
<meta property="og:title" content=" Override Title ">
<meta property="og:site_name" content="Example ">
<meta property="article:author" content="Ann">
<meta property="twitter:card" content="nope">
<meta name="description" content="nope">
</head><body>
<script>var x = 1 < 2;</script>
<div id="outer"><div id="inner">
<h1>Real Heading</h1>
<p>Body text that is long enough to hold the region at this level, with
  a <a href="https://other.example/x">link</a> and more words.</p>
</div></div>
</body></html>"""


def test_extract_basic():
    doc = extract_document(PAGE, "https://h.example/p")
    assert doc.status == "ok"
    assert doc.title == "Override Title"  # og:title wins, trimmed
    assert doc.meta == {"og:site_name": "Example", "article:author": "Ann"}
    assert "<script" not in doc.canonical_html
    assert "Real Heading" in doc.text
    assert doc.links == ["https://other.example/x"]
    assert doc.canonical_html.startswith("<h1 ")
    # region stayed at the inner div (text ≥ 2× title)
    root = parse_html(PAGE)
    region = _climb_content_region(find_all(root, "h1"), doc.title)
    assert [el.attrs.get("id") for el in region] == ["inner"]


def test_extract_h2_fallback_and_not_found():
    d2 = extract_document("<div><h2>Only H2</h2><p>xxxx xxxx xxxx</p></div>", "u")
    assert d2.status == "ok" and d2.title == "Only H2"
    d3 = extract_document("<div><p>no headings at all</p></div>", "u")
    assert d3.status == "not_found"


def test_extract_multi_h1_join():
    html = "<div><h1>One</h1><h1> Two </h1><p>body body body body body</p></div>"
    d = extract_document(html, "u")
    assert d.title == "One Two"


def test_region_climb():
    # title parent's text shorter than 2× title → climbs to grandparent
    html = (
        "<div id='g'><div id='p'><h1>A Quite Long Title Here</h1></div>"
        "<p>surrounding content with plenty of additional words to "
        "make the grandparent region long enough for the check</p></div>"
    )
    d = extract_document(html, "u")
    assert "surrounding content" in d.text


# -- doctree X6-X10 -----------------------------------------------------------


def test_doc_tree_and_amend():
    doc = parse_html_to_doc(
        "<h1>T</h1><p></p><p><br></p><p>keep <b>bold</b> "
        '<a class="c" href="https://x.example/">lnk</a></p>'
        '<img alt="noimg"><img src="https://img.example/i.png">',
        seed="u1",
    )
    types = [n["type"] for n in doc["content"]]
    assert types == ["heading", "paragraph", "image"]  # empty paragraphs dropped
    para = doc["content"][1]
    link_node = para["content"][-1]
    mark = link_node["marks"][-1]
    assert mark["attrs"]["rel"] == "noopener noreferrer"
    assert mark["attrs"]["target"] == "_blank"
    assert "class" not in mark["attrs"]
    # uid types got 6-char ids, unique
    ids = [doc["content"][0]["attrs"]["id"], para["attrs"]["id"]]
    assert all(len(i) == 6 for i in ids) and len(set(ids)) == 2


def test_deterministic_ids_stable_and_collision_free():
    a = DeterministicIds("seed")
    b = DeterministicIds("seed")
    xs = [a.amend_id("") for _ in range(200)]
    ys = [b.amend_id("") for _ in range(200)]
    assert xs == ys and len(set(xs)) == 200
    c = DeterministicIds("seed")
    c.ids.add(xs[0])  # force collision → regenerates
    assert c.amend_id("") == xs[1]


def test_find_title_levels():
    doc = parse_html_to_doc("<div><h2>Second</h2><h1>First</h1></div>", seed="s")
    assert find_title(doc, 1) == "First"
    assert find_title(doc, 2) == "Second"
    assert find_title(doc, 3) == ""


def test_doc_to_html_roundtrip_shape():
    doc = parse_html_to_doc(
        "<h1>T</h1><ul><li>a</li><li>b</li></ul>"
        "<table><tr><th>h</th><td colspan='2'>d</td></tr></table>",
        seed="s",
    )
    html = doc_to_html(doc)
    assert html.startswith("<h1 id=")
    # NB: plain <ul> parses as orderedList — the reference-pipeline
    # quirk (see doctree._block) — so lists re-render as <ol>.
    assert "<ol><li" in html and 'colspan="2"' in html
    # text projection: one line per textblock
    assert doc_to_text(doc) == "T\na\nb\nh\nd"


def test_task_list_parse_amend_render():
    doc = parse_html_to_doc(
        '<ul data-type="taskList">'
        '<li data-type="taskItem" data-checked="true">done item</li>'
        '<li data-type="taskItem" data-checked="false">open item'
        '<ul data-type="taskList">'
        '<li data-type="taskItem" data-checked="false">nested</li>'
        "</ul></li></ul>",
        seed="s",
    )
    tl = doc["content"][0]
    assert tl["type"] == "taskList"
    items = tl["content"]
    assert [i["type"] for i in items] == ["taskItem", "taskItem"]
    assert items[0]["attrs"]["checked"] is True
    assert items[1]["attrs"]["checked"] is False
    assert items[0]["attrs"]["id"]  # taskItem is a uidType
    nested = [c for c in items[1]["content"] if c["type"] == "taskList"]
    assert nested and nested[0]["content"][0]["type"] == "taskItem"
    html = doc_to_html(doc)
    assert '<ul data-type="taskList">' in html
    assert 'data-checked="true"' in html and 'data-checked="false"' in html
    assert doc_to_text(doc) == "done item\nopen item\nnested"


def test_youtube_embed_parse_render():
    doc = parse_html_to_doc(
        '<p>intro</p><div data-youtube-video>'
        '<iframe src="https://www.youtube.com/embed/dQw4w9WgXcQ" '
        'width="560" height="315"></iframe></div>'
        '<iframe src="https://other.example/embed/x"></iframe>',
        seed="s",
    )
    types = [n["type"] for n in doc["content"]]
    assert types == ["paragraph", "youtube"]  # non-youtube iframe dropped
    yt = doc["content"][1]
    assert yt["attrs"]["src"].endswith("dQw4w9WgXcQ")
    assert yt["attrs"]["width"] == 560 and yt["attrs"]["height"] == 315
    assert "<div data-youtube-video><iframe" in doc_to_html(doc)


def test_text_align_attr():
    doc = parse_html_to_doc(
        '<h2 style="text-align: center">C</h2>'
        '<p style="TEXT-ALIGN:right">r</p><p>plain</p>',
        seed="s",
    )
    h, p1, p2 = doc["content"]
    assert h["attrs"]["textAlign"] == "center"
    assert p1["attrs"]["textAlign"] == "right"
    assert "textAlign" not in p2["attrs"]  # only when source declares one
    html = doc_to_html(doc)
    assert 'style="text-align: center"' in html
    assert 'style="text-align: right"' in html


def test_outer_html_len_non_ascii_names():
    from crawlkit.htmlkit import outer_html, outer_html_utf8_len, parse_html

    root = parse_html('<div данные="значение x" ок>hi ё</div><p>π</p>')
    assert outer_html_utf8_len(root) == len(outer_html(root).encode("utf-8"))


def test_nested_color_spans_innermost_wins():
    doc = parse_html_to_doc(
        '<p><span style="color: red">a<span style="color: blue">b</span>'
        "c</span></p>",
        seed="s",
    )
    nodes = doc["content"][0]["content"]
    colors = [
        next(m["attrs"]["color"] for m in n.get("marks", [])
             if m["type"] == "textStyle")
        for n in nodes
    ]
    assert colors == ["red", "blue", "red"]


def test_text_style_color_mark():
    doc = parse_html_to_doc(
        '<p>a <span style="color: #958DF1">violet</span> word; '
        '<span style="background-color: red">not a color mark</span></p>',
        seed="s",
    )
    nodes = doc["content"][0]["content"]
    colored = [n for n in nodes if n.get("marks")]
    assert len(colored) == 1
    assert colored[0]["marks"] == [
        {"type": "textStyle", "attrs": {"color": "#958DF1"}}
    ]
    assert 'style="color: #958DF1">violet</span>' in doc_to_html(doc)
    assert doc_to_text(doc) == "a violet word; not a color mark"


def test_mention_and_emoji_spans_no_content_loss():
    doc = parse_html_to_doc(
        '<p>ping <span data-type="mention" data-id="jarvis">@jarvis</span>'
        ' and <span data-type="emoji" data-name="smile">\U0001f604</span>!</p>',
        seed="s",
    )
    kinds = [n["type"] for n in doc["content"][0]["content"]]
    assert kinds == ["text", "mention", "text", "emoji", "text"]
    assert doc_to_text(doc) == "ping @jarvis and \U0001f604!"
    html = doc_to_html(doc)
    assert 'data-type="mention" data-id="jarvis"' in html
    assert 'data-type="emoji" data-name="smile"' in html


def test_whitespace_collapse():
    doc = parse_html_to_doc("<p>  a\n   b\t c  </p>", seed="s")
    assert doc_to_text(doc) == "a b c"


def test_mathematics_stays_plain_text_by_default():
    """ADVICE r3: the reference's @tiptap-pro/extension-mathematics
    2.5.0 is decoration-only — getJSON() keeps '$…$' as plain text and
    never emits a mathematics node.  Default parsing must match that
    doc format exactly."""
    doc = parse_html_to_doc("<p>Euler: $e^{i\\pi}+1=0$ holds.</p>", seed="s")
    inline = doc["content"][0]["content"]
    assert [n["type"] for n in inline] == ["text"]
    assert doc_to_text(doc) == "Euler: $e^{i\\pi}+1=0$ holds."

    # explicit data-type span: no extension claims it, so only its
    # text content survives (as plain text)
    doc = parse_html_to_doc(
        '<p>see <span data-type="mathematics" data-latex="\\frac{a}{b}">'
        "a/b</span> here</p>",
        seed="s",
    )
    assert [n["type"] for n in doc["content"][0]["content"]] == ["text"]
    assert doc_to_text(doc) == "see a/b here"


def test_mathematics_nodes_opt_in():
    """X6 Mathematics, opt-in form (math_nodes=True): '$…$'/'\\(…\\)'
    text spans and explicit data-type=mathematics spans become
    mathematics nodes with a latex attr; the plain-text projection
    reproduces the SOURCE bytes so extraction parity is unchanged."""
    # dollar form in a plain text run
    doc = parse_html_to_doc("<p>Euler: $e^{i\\pi}+1=0$ holds.</p>",
                            seed="s", math_nodes=True)
    inline = doc["content"][0]["content"]
    assert [n["type"] for n in inline] == ["text", "mathematics", "text"]
    assert inline[1]["attrs"]["latex"] == "e^{i\\pi}+1=0"
    assert doc_to_text(doc) == "Euler: $e^{i\\pi}+1=0$ holds."
    html = doc_to_html(doc)
    assert 'data-type="mathematics" data-latex="e^{i\\pi}+1=0"' in html

    # \( … \) form keeps ITS delimiters in the text projection
    doc = parse_html_to_doc("<p>so \\(x^2\\) grows</p>", seed="s",
                            math_nodes=True)
    assert doc["content"][0]["content"][1]["type"] == "mathematics"
    assert doc_to_text(doc) == "so \\(x^2\\) grows"

    # explicit span form (data-latex wins over fallback text)
    doc = parse_html_to_doc(
        '<p>see <span data-type="mathematics" data-latex="\\frac{a}{b}">'
        "a/b</span> here</p>",
        seed="s", math_nodes=True,
    )
    m = doc["content"][0]["content"][1]
    assert m["type"] == "mathematics"
    assert m["attrs"]["latex"] == "\\frac{a}{b}"
    assert doc_to_text(doc) == "see $\\frac{a}{b}$ here"

    # currency amounts are NOT math ('$5 and $10' has space-adjacent
    # content edges) — stays one text node
    doc = parse_html_to_doc("<p>costs $5 and $10 today</p>", seed="s",
                            math_nodes=True)
    assert [n["type"] for n in doc["content"][0]["content"]] == ["text"]
    assert doc_to_text(doc) == "costs $5 and $10 today"

    # marks around the math run survive on neighboring text
    doc = parse_html_to_doc("<p><em>let $x$ vary</em></p>", seed="s",
                            math_nodes=True)
    kinds = [n["type"] for n in doc["content"][0]["content"]]
    assert kinds == ["text", "mathematics", "text"]
    assert doc_to_text(doc) == "let $x$ vary"


# -- cbor ---------------------------------------------------------------------


def test_cbor_roundtrip_and_determinism():
    obj = {
        "type": "doc",
        "content": [{"type": "text", "text": "héllo", "n": 3, "f": 1.5}],
        "b": b"\x00\x01",
        "neg": -42,
        "big": 2**40,
        "none": None,
        "t": True,
    }
    data = cborlite.dumps(obj)
    assert cborlite.loads(data) == obj
    # key order must not matter (canonical map ordering)
    assert cborlite.dumps({"b": 1, "a": 2}) == cborlite.dumps({"a": 2, "b": 1})
    assert cborlite.dumps(0) == b"\x00"
    assert cborlite.dumps(23) == b"\x17"
    assert cborlite.dumps(24) == b"\x18\x18"
    assert cborlite.dumps("a") == b"\x61\x61"


# -- canon --------------------------------------------------------------------


def test_url_validity():
    assert canon.is_valid_url("https://a.example/x")
    assert not canon.is_valid_url("http://a.example/x")
    assert not canon.is_valid_url("ftp://a.example")
    assert not canon.is_valid_url(None)
    assert not canon.is_valid_url("https://")


def test_canonicalization():
    u = "HTTPS://A.Example:443/p?b=2&a=1&utm_source=x#frag"
    c = canon.canonical_url(u)
    assert c == "https://a.example/p?a=1&b=2"
    assert canon.canonical_url(c) == c  # idempotent
    assert canon.canonical_url("https://a.example") == "https://a.example/"
    assert canon.url_host("https://A.example:8443/p") == "a.example"
    assert (
        canon.resolve_link("https://a.example/d/p", "../q") == "https://a.example/q"
    )


# -- bloom --------------------------------------------------------------------


def test_bloom_no_false_negatives_and_merge():
    rng = np.random.default_rng(42)
    items = rng.integers(-(2**63), 2**63 - 1, size=5000, dtype=np.int64)
    bp = bloom.BloomPartition.sized_for(5000, fpp=0.01)
    bp.add(items)
    assert bp.might_contain(items).all()  # no false negatives
    fresh = rng.integers(-(2**63), 2**63 - 1, size=20000, dtype=np.int64)
    fpp = bp.might_contain(fresh).mean()
    assert fpp < 0.05
    # byte round-trip
    rt = bloom.BloomPartition.from_bytes(bp.to_bytes())
    assert rt.k == bp.k and rt.n_items == bp.n_items
    assert rt.might_contain(items).all()


def test_bloom_from_bytes_rejects_foreign_payloads():
    """A payload whose header no bloom writes is refused up front — a
    cuckoo-style 0xFFFFFFFF tag read as k would otherwise size a
    (k, n) index matrix of ~32 GB on the first probe."""
    cuckoo_style = (0xFFFFFFFF).to_bytes(4, "little") + bytes(12 + 64)
    with pytest.raises(ValueError, match="k=4294967295"):
        bloom.BloomPartition.from_bytes(cuckoo_style)
    with pytest.raises(ValueError):
        bloom.BloomPartition.from_bytes((0).to_bytes(4, "little") + bytes(72))
    with pytest.raises(ValueError):  # valid k, no bit array
        bloom.BloomPartition.from_bytes((4).to_bytes(4, "little") + bytes(8))


# -- golden parity on the reference sample -----------------------------------


@pytest.mark.skipif(not SAMPLE.exists(), reason="reference sample absent")
def test_reference_sample_golden():
    """Pin the kernel's output on the reference's real sample page
    (/root/reference/sample/doc_page.html).  The golden file is written
    on first run and asserted byte-identical afterwards."""
    html = SAMPLE.read_text()
    d = extract_document(html, "https://www.rfc-editor.org/rfc/rfc8949.html")
    assert d.status == "ok"
    assert d.title.startswith("RFC 8949")
    digest = {
        "title": d.title,
        "text_sha256": hashlib.sha256(d.text.encode()).hexdigest(),
        "text_len": len(d.text),
        "cbor_sha256": hashlib.sha256(d.content_cbor).hexdigest(),
        "first_lines": d.text.splitlines()[:5],
        "n_links": len(d.links),
    }
    golden_path = GOLDEN / "rfc8949_digest.json"
    if not golden_path.exists():
        golden_path.write_text(json.dumps(digest, indent=2, ensure_ascii=False))
        pytest.skip("golden written on first run")
    assert json.loads(golden_path.read_text()) == digest


# -- id-insensitive STRUCTURAL parity vs the reference's shipped goldens ------
#
# sample/doc_cbor.json is the reference's own amended tree for
# sample/doc_page.html (src/tiptap.ts parseHTML output), and
# sample/doc_html.html its canonical re-render (src/html.ts toHTML).
# Byte-parity on ids is impossible by design (reference ids are random
# nanoid(6)); everything else — node types, texts, marks, non-id attrs,
# nesting — must match exactly, modulo three documented generational
# deltas between the golden artifact and the reference's SHIPPED code
# (which this kernel implements):
#
#  1. ids: golden assigns them to paragraph/heading/codeBlock only;
#     shipped uidTypes (src/tiptap.ts:34-45) cover listItem/tableCell/…
#     too → id attrs stripped on both sides.
#  2. link marks: shipped amendNode (src/tiptap.ts:166-175) forces
#     rel/target and deletes class; the golden predates it (1102 of its
#     1170 links have neither) → compare href only.
#  3. empty paragraphs: shipped amendNode invalidates empty and
#     hardBreak-only paragraphs (src/tiptap.ts:144-152); the golden
#     retains 7 → drop them from the golden side.

REF_CBOR = pathlib.Path("/root/reference/sample/doc_cbor.json")
REF_HTML = pathlib.Path("/root/reference/sample/doc_html.html")


def _norm_tree(node: dict, drop_amended: bool = False) -> dict:
    n = dict(node)
    if isinstance(n.get("attrs"), dict):
        attrs = {k: v for k, v in n["attrs"].items() if k != "id"}
        if attrs:
            n["attrs"] = attrs
        else:
            n.pop("attrs")
    if n.get("marks"):
        n["marks"] = [
            dict(m, attrs={"href": (m.get("attrs") or {}).get("href")})
            if m.get("type") == "link" else dict(m)
            for m in n["marks"]
        ]
    if n.get("content") is not None:
        kids = [_norm_tree(c, drop_amended) for c in n["content"]]
        if drop_amended:
            kids = [
                c for c in kids
                if not (
                    c.get("type") == "paragraph"
                    and (
                        not c.get("content")
                        or (len(c["content"]) == 1
                            and c["content"][0].get("type") == "hardBreak")
                    )
                )
            ]
        n["content"] = kids
    return n


@pytest.mark.skipif(not REF_CBOR.exists(), reason="reference sample absent")
def test_structural_parity_with_reference_doc_cbor():
    import sys

    sys.setrecursionlimit(100000)
    d = extract_document(
        SAMPLE.read_text(), "https://www.rfc-editor.org/rfc/rfc8949.html"
    )
    mine = cborlite.loads(d.content_cbor)
    ref = json.loads(REF_CBOR.read_text())
    assert _norm_tree(mine) == _norm_tree(ref, drop_amended=True)


def _norm_html_tree(el):
    """Comparable shape of an html tree: (tag, attrs, children) tuples.
    Normalized: id/data-id attrs dropped (random nanoid vs deterministic
    ids), colspan/rowspan="1" defaults dropped (the golden render emits
    them, ours elides), whitespace-only text dropped and inline text
    ws-collapsed (the golden render pretty-prints; <pre> text verbatim),
    and empty / <br>-only <p> dropped (shipped-amender delta, as in
    ``_norm_tree``)."""
    from crawlkit.htmlkit import HText

    res = []
    for child in el.children:
        if isinstance(child, HText):
            p, inpre = child.parent, False
            while p is not None:
                if p.tag == "pre":
                    inpre = True
                    break
                p = p.parent
            if inpre:
                res.append(("text", child.data))
                continue
            t = re.sub(r"[ \t\r\n\f]+", " ", child.data).strip(" ")
            if t:
                res.append(("text", t))
            continue
        attrs = {
            k: v for k, v in child.attrs.items()
            if k not in ("id", "data-id")
            and not (k in ("colspan", "rowspan") and v == "1")
        }
        kids = _norm_html_tree(child)
        if child.tag == "p" and (not kids or kids == [("br", (), ())]):
            continue
        res.append((child.tag, tuple(sorted(attrs.items())), tuple(kids)))
    return res


@pytest.mark.skipif(not REF_HTML.exists(), reason="reference sample absent")
def test_structural_parity_with_reference_doc_html():
    from crawlkit.htmlkit import parse_html

    d = extract_document(
        SAMPLE.read_text(), "https://www.rfc-editor.org/rfc/rfc8949.html"
    )
    mine = _norm_html_tree(parse_html(d.canonical_html))
    ref = _norm_html_tree(parse_html(REF_HTML.read_text()))
    assert mine == ref


def test_remove_all_on_subtree_keeps_root_index_consistent():
    """ADVICE r3 (htmlkit.remove_all): detaching from a SUBTREE must
    not leave the parse root's tag index pointing at removed nodes."""
    from crawlkit.htmlkit import remove_all

    root = parse_html(
        "<div id=a><script>x()</script><p>keep</p></div>"
        "<div id=b><script>y()</script></div>"
    )
    div_a = find_all(root, "div")[0]
    remove_all(div_a, "script")
    # the root lookup must see only div b's script
    scripts = find_all(root, "script")
    assert len(scripts) == 1
    assert element_text(scripts[0]) == "y()"

    # container removal from a subtree invalidates the index → DFS
    remove_all(div_a, "p")
    assert find_all(root, "p") == []
    assert root.tag_index is None
