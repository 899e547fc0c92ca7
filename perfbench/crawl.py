"""The ``crawl_expiry`` workload: a saturated round, then expiry.

Set-up generates a bench-weight synthetic corpus (``body_paras`` 150 to
250, the pages ``bench.py`` crawls) and bucket-clusters it on url (the
shipped J8 plan).  The timed unit is two rounds on a fresh warehouse:

1. a fresh crawl with every page seeded and crawl delay 0, so the
   bucketed fetch join, the extraction kernel, the in-task results
   write and link canonicalization do almost all the work, while the
   seen-filter probe is skipped (round 1 has no seen state);
2. a resume with ``now`` advanced past ``expire_days`` and
   ``fresh_days``: the expiry scan tombstones and requeues every stored
   doc, the P3 freshness join and the seen-filter probe run over the
   links round 1 queued, which are robots-denied or fail to fetch.

Round 1 is where kernel and fetch-stage changes show; round 2 is all
per-round fixed cost, probe, expiry and state writes.
"""

from __future__ import annotations

import contextlib
import shutil
import statistics
import time
from datetime import timedelta
from pathlib import Path

from . import trace
from . import warehouse_stats as ws

N_PAGES = 500
N_HOSTS = 24
BODY_PARAS = (150, 250)
PAGES_BUCKETS = 4
N_BLOOM_PARTITIONS = 4
EXPIRE_DAYS = 2
FRESH_DAYS = 3
ADVANCE_DAYS = EXPIRE_DAYS + FRESH_DAYS  # round 2's "now" moves past both
GOLDEN_SAMPLE = 16  # rows re-extracted in-process by the gate
KERNEL_SAMPLE = 60  # pages timed in-process for the extract.* metrics
GATE_EVERY_UNIT = True  # each unit writes its own warehouse
MIN_UNITS = 1  # a unit is two rounds, 30-50 s on 4 cores


def synth_config(seed: int):
    from crawlkit.synth import SynthConfig

    return SynthConfig(n_pages=N_PAGES, n_hosts=N_HOSTS, seed=seed,
                       body_paras=BODY_PARAS)


def params(seed: int) -> dict:
    cfg = synth_config(seed)
    return {
        "n_pages": cfg.n_pages, "n_hosts": cfg.n_hosts,
        "body_paras": list(cfg.body_paras), "skew": cfg.skew,
        "crawl_delay_ms": 0, "pages_buckets": PAGES_BUCKETS,
        "n_bloom_partitions": N_BLOOM_PARTITIONS,
        "expire_days": EXPIRE_DAYS, "fresh_days": FRESH_DAYS,
        "advance_days": ADVANCE_DAYS,
    }


def setup(run) -> dict:
    """Corpus generation and one bucketize ingest into a warehouse
    skeleton every unit copies."""
    from crawlkit.storage import Warehouse
    from crawlkit.synth import synth_pages

    corpus = str(run.dir / "corpus")
    t0 = time.perf_counter()
    synth_pages(run.spark, synth_config(run.seed)).write.parquet(corpus)
    gen_s = time.perf_counter() - t0

    skeleton = run.dir / "wh-skeleton"
    t0 = time.perf_counter()
    Warehouse(skeleton).bucketized_pages(
        run.spark.read.parquet(corpus), PAGES_BUCKETS).count()
    run.setup_parts.update({
        "corpus_gen_s": gen_s,
        "bucketize_s": time.perf_counter() - t0,
    })
    return {"corpus": corpus, "skeleton": str(skeleton)}


def unit(run, state: dict, name: str) -> dict:
    """Round 1 (fresh, every page seeded) then round 2 (resumed past
    expiry) on a copy of the bucketized skeleton."""
    from pyspark.sql import functions as F

    from crawlkit.rounds import CrawlConfig, run_crawl
    from crawlkit.synth import robots_df

    wh = run.dir / f"wh-{name}"
    shutil.copytree(state["skeleton"], wh)
    pages = run.spark.read.parquet(state["corpus"])
    seeds = pages.select("url", F.lit(0).alias("depth"),
                         F.col("warc_ts").alias("discovered_ts"))
    robots = robots_df(run.spark, synth_config(run.seed)).withColumn(
        "crawl_delay_ms", F.lit(0).cast("long"))
    fresh = CrawlConfig(warehouse=str(wh), pages_buckets=PAGES_BUCKETS,
                        n_bloom_partitions=N_BLOOM_PARTITIONS,
                        fresh_days=FRESH_DAYS)
    resumed = CrawlConfig(warehouse=str(wh), expire_days=EXPIRE_DAYS,
                          fresh_days=FRESH_DAYS,
                          now=fresh.now + timedelta(days=ADVANCE_DAYS))
    rounds: list[dict] = []
    with _round_clock(run, rounds) as unit_span:
        t0 = time.perf_counter()
        run_crawl(run.spark, fresh, pages, seeds, robots, max_rounds=1)
        run_crawl(run.spark, resumed, pages, max_rounds=1)
        crawl_s = time.perf_counter() - t0
    if [r["round"] for r in rounds if r["metrics"]] != [1, 2]:
        raise RuntimeError(f"expected rounds 1 and 2, got {rounds}")
    return {
        "wh": str(wh),
        "run_s": crawl_s,
        "steps_s": [r["seconds"] for r in rounds],
        "phases_s": [r["seconds"] for r in rounds],
        # pages fetched and stored; round 2's picks are dead links
        "items": sum(r["metrics"]["results"] for r in rounds),
        "rounds": rounds,
        "span": unit_span.id if unit_span is not None else None,
    }


@contextlib.contextmanager
def _round_clock(run, records: list):
    """Record every round of the with-block in ``records``: wall time
    only, or, while ``run.tracer`` is set, layer spans inside a
    ``crawl.unit`` span (yielded; None when untraced)."""
    import crawlkit.rounds as rounds_mod
    from crawlkit.storage import Warehouse

    if run.tracer is None:
        patches = trace.install_round_clock(rounds_mod, records)
        span = contextlib.nullcontext()
    else:
        patches = trace.install_crawl_tracing(run.tracer, rounds_mod,
                                              Warehouse, records)
        span = run.tracer.span("crawl.unit", anchor=True)
    try:
        with span as unit_span:
            yield unit_span
    finally:
        patches.restore()


# -- correctness gate ----------------------------------------------------
def corrupt(unit_rec: dict) -> None:
    """Flip one byte of one stored text (the gate must then fail)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in sorted((Path(unit_rec["wh"]) / "results" / "round=1").glob("*.parquet")):
        t = pq.read_table(f)
        if not t.num_rows:
            continue
        texts = t["text"].to_pylist()
        texts[0] = chr(ord(texts[0][0]) ^ 1) + texts[0][1:]
        t = t.set_column(t.schema.get_field_index("text"), "text",
                         pa.array(texts, pa.string()))
        pq.write_table(t, f)
        return
    raise RuntimeError("no results row to corrupt")


def gate(run, state: dict, unit_rec: dict, corrupt_first: bool) -> list[dict]:
    """Correctness checks over the committed warehouse of one unit."""
    import pyarrow.parquet as pq

    from crawlkit.canon import canonical_url
    from crawlkit.extract import extract_document

    if corrupt_first:
        corrupt(unit_rec)
    wh = unit_rec["wh"]
    corpus = pq.read_table(state["corpus"], columns=["url", "html", "text"])
    by_canon = {
        canonical_url(u): (h, t) for u, h, t in zip(
            corpus["url"].to_pylist(), corpus["html"].to_pylist(),
            corpus["text"].to_pylist())
    }
    res = ws.read_table(wh, "results", ws.committed_rounds(wh, "results"),
                        ["url_canon", "src", "title", "content", "html",
                         "page_len", "text", "round"])
    rows = res.to_pylist() if res is not None else []
    stages = {r: m["stages"] for r, m in ws.round_metrics(wh, [1, 2]).items()}
    checks = []

    def check(name: str, ok: bool, detail) -> None:
        checks.append({"check": name, "ok": bool(ok), "detail": detail})

    urls = [r["url_canon"] for r in rows]
    bad = [r["url_canon"] for r in rows
           if by_canon.get(r["url_canon"], (None, None))[1] != r["text"]]
    check("text_equals_corpus",
          rows and not bad and len(set(urls)) == len(urls)
          and all(r["round"] == 1 for r in rows)
          and len(rows) == stages[1].get("results"),
          {"rows": len(rows), "distinct": len(set(urls)),
           "committed_results": stages[1].get("results"), "mismatched": bad[:5]})

    sample = sorted(rows, key=lambda r: r["url_canon"])
    sample = sample[::max(1, len(sample) // GOLDEN_SAMPLE)][:GOLDEN_SAMPLE]
    golden_bad = []
    for r in sample:
        ex = extract_document(by_canon[r["url_canon"]][0].decode("utf-8"),
                              r["url_canon"], src=r["src"])
        if (ex.title, ex.content_cbor, ex.canonical_html.strip(), ex.page_len) != (
                r["title"], r["content"], r["html"], r["page_len"]):
            golden_bad.append(r["url_canon"])
    check("sample_matches_in_process_extract", sample and not golden_bad,
          {"sampled": len(sample), "mismatched": golden_bad})

    exact = ws.read_table(wh, "urlseen_exact", [1, 2]).to_pylist()
    tomb = ws.read_table(wh, "urlseen_evicted", [2])
    tomb_hashes = set(tomb["url_hash"].to_pylist()) if tomb is not None else set()
    ok_hashes = {r["url_hash"] for r in
                 ws.read_table(wh, "results", [1], ["url_hash"]).to_pylist()}
    requeued = ws.read_table(wh, "frontier", [2], ["url_hash"])
    requeued = set(requeued["url_hash"].to_pylist()) if requeued is not None else set()
    check("every_stored_doc_expired_and_requeued",
          tomb_hashes == ok_hashes and len(tomb_hashes) == stages[2].get("expired")
          and ok_hashes <= requeued,
          {"tombstones": len(tomb_hashes), "expired": stages[2].get("expired"),
           "stored_docs": len(ok_hashes),
           "not_requeued": len(ok_hashes - requeued)})
    seen_r1 = {r["url_hash"] for r in exact if r["round"] == 1}
    live = {r["url_hash"] for r in exact
            if not (r["url_hash"] in tomb_hashes and r["round"] <= 2)}
    check("seen_set_is_round1_minus_expired",
          live == seen_r1 - tomb_hashes and seen_r1,
          {"seen_round1": len(seen_r1), "live_after": len(live)})
    return checks


# -- per-layer metrics from a traced unit ----------------------------------
def layer_metrics(run, state: dict, unit_rec: dict, tracer,
                  jobs: list[dict]) -> tuple[dict, dict]:
    from .kernel import kernel_metrics, sample_pages

    kernel = kernel_metrics(sample_pages(state["corpus"], KERNEL_SAMPLE))
    wh = unit_rec["wh"]
    round_spans = [tracer.spans[r["span"]] for r in unit_rec["rounds"]]
    unit_span = tracer.spans[unit_rec["span"]]
    spans = [unit_span] + tracer.descendants(unit_span)
    round_of = {d.id: s.id for s in round_spans
                for d in [s] + tracer.descendants(s)}
    # bootstrap canonicalizes the seeds outside any round; the sparkfns
    # metrics count only the link path inside rounds
    link_spans = [s for s in spans if s.id in round_of
                  and s.name == "sparkfns.url_identity"]

    def total(name: str) -> float:
        return sum(s.seconds for s in spans if s.name == name)

    def counts(name: str, key: str) -> int:
        return sum(s.counts.get(key, 0) for s in spans if s.name == name)

    cores = run.cores
    round_jobs: dict[int, list[dict]] = {s.id: [] for s in round_spans}
    for j in jobs:
        if j["span"] in round_of:
            round_jobs[round_of[j["span"]]].append(j)
    per_round = []
    for s in round_spans:
        busy = sum(j["executor_run_s"] for j in round_jobs[s.id])
        per_round.append({
            "round": s.counts.get("round"), "seconds": s.seconds,
            "jobs": len(round_jobs[s.id]),
            "idle_core_frac": 1.0 - busy / (cores * s.seconds),
            "unattributed_s": tracer.self_seconds(s),
        })

    rounds = [r["round"] for r in unit_rec["rounds"]]
    sizes = ws.table_sizes(wh, rounds)
    committed = ws.round_metrics(wh, rounds)
    pages = unit_rec["items"]
    stored = sum(m["stages"].get("results", 0) for m in committed.values())
    fetch_s = total("fetch.fetch_extract")
    fetched_html = (counts("fetch.fetch_extract", "rows_in")
                    - counts("fetch.fetch_extract", "status.fetch_failed"))
    probe_in = counts("urlseen.probe", "rows_in")
    pol_in = counts("politeness.rank", "rows_in")
    pol_out = counts("politeness.rank", "rows_out")

    def per_round_median(table: str, key: str) -> float:
        vals = [sizes.get(table, {}).get(r, {}).get(key, 0) for r in rounds]
        return statistics.median(vals) if vals else 0.0

    def rows_median(table: str) -> float:
        vals = []
        for r in rounds:
            t = ws.read_table(wh, table, [r], ["partition_id"])
            vals.append(t.num_rows if t is not None else 0)
        return statistics.median(vals) if vals else 0.0

    all_bytes = [sum(sizes[t].get(r, {}).get("bytes", 0) for t in sizes)
                 for r in rounds]
    all_files = [sum(sizes[t].get(r, {}).get("files", 0) for t in sizes)
                 for r in rounds]
    results_bytes = sum(v["bytes"] for v in sizes.get("results", {}).values())
    tomb_t = ws.read_table(wh, "urlseen_evicted", rounds)
    tomb = tomb_t.num_rows if tomb_t is not None else 0
    skews = [ws.partition_skew(m["partition_rows_in"])
             for m in committed.values() if m["partition_rows_in"]]

    out = {
        "rounds.round_s": statistics.median(p["seconds"] for p in per_round),
        "rounds.spark_jobs_per_round": statistics.median(p["jobs"] for p in per_round),
        "rounds.idle_core_frac": statistics.median(p["idle_core_frac"] for p in per_round),
        "rounds.unattributed_s": statistics.median(p["unattributed_s"] for p in per_round),
        "urlseen.probe_s": total("urlseen.probe"),
        "urlseen.probe_rows_in": probe_in,
        "urlseen.probe_rows_out": counts("urlseen.probe", "rows_out"),
        "urlseen.unseen_ratio": counts("urlseen.probe", "rows_out") / max(probe_in, 1),
        "urlseen.rebuild_s": total("urlseen.rebuild"),
        "urlseen.filter_bytes_per_round": per_round_median("urlseen_bloom", "bytes"),
        "urlseen.partitions_rewritten_per_round": rows_median("urlseen_bloom"),
        "urlseen.tombstones": tomb,
        "politeness.rank_s": total("politeness.rank"),
        "politeness.rows_in": pol_in,
        "politeness.selected": counts("politeness.rank", "selected"),
        "politeness.deferred": counts("politeness.rank", "deferred"),
        "politeness.robots_denied": pol_in - pol_out,
        "fetch.fetch_extract_s": fetch_s,
        "fetch.pages_in": counts("fetch.fetch_extract", "rows_in"),
        "fetch.fetch_failed": counts("fetch.fetch_extract", "status.fetch_failed"),
        "fetch.partition_skew": max(skews) if skews else 0.0,
        "fetch.kernel_share": (
            kernel["extract.ms_per_page"] * fetched_html / (cores * fetch_s * 1000.0)
            if fetch_s else 0.0),
        "fetch.results_bytes_per_page": results_bytes / max(stored, 1),
        "sparkfns.url_identity_s": sum(s.seconds for s in link_spans),
        "sparkfns.links_in": sum(s.counts["rows_in"] for s in link_spans),
        "sparkfns.link_cand_out": sum(s.counts["rows_out"] for s in link_spans),
        "storage.read_s": sum(s.seconds for s in spans
                              if s.name.startswith("storage.read.")),
        "storage.commit_s": total("storage.commit"),
        "storage.files_per_round": statistics.median(all_files) if all_files else 0,
        "storage.bytes_per_round": statistics.median(all_bytes) if all_bytes else 0,
        "storage.warehouse_bytes_per_page": sum(all_bytes) / max(pages, 1),
        "storage.bucketize_s": run.setup_parts.get("bucketize_s", 0.0),
    }
    for table in ("frontier", "urlseen_exact", "urlseen_bloom", "metrics"):
        out[f"storage.write_s.{table}"] = total(f"storage.write.{table}")
    out.update(kernel)
    detail = {
        "per_round": per_round,
        "committed_metrics": {str(k): v for k, v in committed.items()},
        "table_sizes": {t: {str(r): v for r, v in d.items()} for t, d in sizes.items()},
    }
    return out, detail
