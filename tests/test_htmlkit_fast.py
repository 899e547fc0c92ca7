"""Differential parity gate for the fast HTML tokenizer.

``htmlkit._parse_fast`` must produce the IDENTICAL tree — same element
structure, same attrs, same text-node SEGMENTATION (text boundaries feed
the doc-tree builder, so they are part of the byte-parity contract) — as
the stdlib-parser reference path ``htmlkit._parse_stdlib`` on:

* a hand-built corpus of tokenizer edge cases (malformed tags, CDATA
  script/style, comments/PIs/doctype/marked sections, entity corners,
  attribute grammar quirks),
* the synthetic crawl corpus (the bench/scaling workload),
* the reference's real sample page (the golden-parity input),
* hypothesis-fuzzed HTML-ish strings.

No third-party parser exists in this environment; the stdlib parser IS
the semantics oracle (reference extraction behavior is pinned separately
by the goldens in test_core_kernel.py).
"""

from __future__ import annotations

import pathlib

import pytest
from hypothesis import given, settings, strategies as st

from crawlkit.htmlkit import HElement, HText, _parse_fast, _parse_stdlib

SAMPLE = pathlib.Path("/root/reference/sample/doc_page.html")


def dump(node):
    if isinstance(node, HText):
        return ("#text", node.data)
    assert isinstance(node, HElement)
    return (node.tag, sorted(node.attrs.items()),
            [dump(c) for c in node.children])


def both(s: str):
    try:
        a = dump(_parse_stdlib(s))
    except Exception as e:  # stdlib raises on some garbage (marked sections)
        a = ("RAISE", type(e).__name__)
    try:
        b = dump(_parse_fast(s))
    except Exception as e:
        b = ("RAISE", type(e).__name__)
    return a, b


EDGE_CASES = [
    # well-formed basics
    '<html><head><title>T &amp; U</title></head><body><p>x</p></body></html>',
    '<div class="a b" id=\'y\' data-z>text<br/>more</div>',
    '<meta charset=utf-8><meta name="x" content="y">',
    '<ul><li>1<li>2</ul>',
    '<div><p>a<p>b</div>c',
    '<svg viewBox="0 0 1 1"><path d="M0,0"/></svg>',
    '<td nowrap>x</td>',
    '<br></br>',
    '<p></P></p>',
    # entities, with and without terminators, invalid names
    '<p>a &lt; b &amp;&amp; c &gt; d &nbspe &#65; &#x42; &bogusent; f</p>',
    '&amp; outside tags &#38;',
    '<p>&amp</p>', '<p>&ampx</p>', '<p>&#x41</p>', '<p>& x</p>',
    '<input value="a&quot;b">', '<input value=a&amp;b>',
    # raw-text (CDATA) elements
    '<script>if (a<b && c>d) { x("</div>"); }</script>after',
    '<script>unterminated',
    '<style>p > a { color: red }</style>',
    '<SCRIPT SRC="x.js"></SCRIPT>',
    '<script src="x"/>not raw</script>text',
    '<script></script\t ></script>',
    # comments / declarations / PIs / marked sections
    '<!-- comment --><p>x</p><!-- unterminated',
    '<!--->x', '<!---->x', '<!-- -- >x',
    '<!DOCTYPE html><html></html>', '<!doctype html>',
    '<?php echo "x" ?><p>y</p>',
    '<![CDATA[ raw <b> ]]><p>z</p>',
    '<![if !IE]>x<![endif]>',
    'a<!>b', 'a<!x>b', 'text<!', 'text<![',
    # attribute grammar quirks (stdlib-tolerant forms)
    '<a href=/foo/bar>link</a>',
    '<img src=x/>',            # bare value swallows the slash
    "<a b='x'c>",              # attr straight after closing quote
    '<a b="1" b="2">',         # duplicate -> last wins
    '<a href="x" <b>y</b>',    # '<' inside tag
    '<e f=">">inside</e>', "<e f='>'>inside</e>",
    '<p title="a\nb">x</p>',
    '<div/hi>x', '<div / >x',
    '<a b = = c>', '<a  b=c  >', '<a\tb\n=\r"v">',
    # truncated / bogus tags
    '<p', '<p x', '<p x=', '<p x="y', 'text<', '</>', '</3>', '</ div>x',
    '<1notag>', '<à-tag>',
    '<p>3 < 4 and <5> and </ x></p>',
    '<p>a < b</p>',
    # stray end tags and deep nesting recovery
    '<b><i>x</b>y</i>',
    '<table><tr><td>a</table>',
]


@pytest.mark.parametrize("case", EDGE_CASES, ids=range(len(EDGE_CASES)))
def test_edge_case_parity(case):
    a, b = both(case)
    assert a == b


@pytest.mark.skipif(not SAMPLE.exists(), reason="reference sample absent")
def test_reference_sample_parity():
    html = SAMPLE.read_text()
    a, b = both(html)
    assert a == b


def test_synthetic_corpus_parity():
    from crawlkit.synth import SynthConfig, page_html

    for cfg in (
        SynthConfig(n_pages=2000, n_hosts=20, n_seeds=5, fanout=4),
        SynthConfig(n_pages=500, n_hosts=3, n_seeds=2, fanout=8,
                    body_paras=(150, 250)),
    ):
        for i in range(0, cfg.n_pages, max(cfg.n_pages // 120, 1)):
            a, b = both(page_html(i, cfg))
            assert a == b, f"page {i} diverged"


# HTML-ish alphabet: heavy on structural metacharacters so the fuzz
# actually exercises tokenizer states, not just text runs.
_ALPHABET = st.sampled_from(list(
    "<>/=!-&;#'\" \t\nabzAZ09" + "pdiv" + "scriptyle" + "&<>"))


@settings(max_examples=400, deadline=None)
@given(st.text(alphabet=_ALPHABET, min_size=0, max_size=80))
def test_fuzz_parity(s):
    a, b = both(s)
    assert a == b


@settings(max_examples=150, deadline=None)
@given(st.lists(st.sampled_from([
    "<p>", "</p>", "<div id='x'>", "</div>", "<br/>", "<script>",
    "</script>", "<style>", "</style>", "<!-- c -->", "<!doctype h>",
    "<?pi?>", "text", "&amp;", "&#65;", "&bad", "<", ">", "a<b",
    "<img src=x/>", "<a href=/y>", "</ div>", "<![CDATA[x]]>",
]), min_size=0, max_size=24).map("".join))
def test_fuzz_token_soup_parity(s):
    a, b = both(s)
    assert a == b
