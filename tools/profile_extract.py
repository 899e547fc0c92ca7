"""Profile the single-process extraction kernel over the synthetic
corpus — the bench/scaling workload — to find the next hotspot.

Usage: python tools/profile_extract.py [n_pages] [--cprofile]
Prints ms/page for the full kernel (tokenize -> tree -> amend ->
canonical html -> CBOR -> text) and, with --cprofile, the top
cumulative functions.
"""
from __future__ import annotations

import cProfile
import pstats
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from crawlkit.extract import extract_document
from crawlkit.synth import SynthConfig, page_html


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 2000
    # bench-weight pages (~24 KB html) unless --light: the crawl leg's
    # corpus, where the kernel cost actually bounds pages/s
    if "--light" in sys.argv:
        cfg = SynthConfig(n_pages=max(n, 1000))
    else:
        cfg = SynthConfig(n_pages=max(n, 1000), n_hosts=100, n_seeds=10,
                          fanout=4, body_paras=(150, 250))
    pages = [(f"https://host{i % 97}.example/p/{i}", page_html(i, cfg)) for i in range(n)]

    def run() -> int:
        total = 0
        for url, html in pages:
            doc = extract_document(html, url)
            total += len(doc.text) + len(doc.canonical_html)
        return total

    run()  # warm
    t0 = time.perf_counter()
    total = run()
    dt = time.perf_counter() - t0
    print(f"pages={n} total_text={total} wall={dt:.3f}s  {dt / n * 1000:.3f} ms/page")

    if "--cprofile" in sys.argv:
        pr = cProfile.Profile()
        pr.enable()
        run()
        pr.disable()
        st = pstats.Stats(pr)
        st.sort_stats("cumulative").print_stats(25)


if __name__ == "__main__":
    main()
