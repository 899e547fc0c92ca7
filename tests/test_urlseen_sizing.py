"""Seen-filter partition sizing: the byte-budget guardrail and the
expected-URL-driven partition-count derivation (VERDICT r4 item 4).

One filter partition serializes to ONE binary cell; at the 10^10-URL
design point an undersized partition count silently grows cells toward
Spark's 2 GB row hazard.  The engine therefore (a) derives the count
from ``CrawlConfig.expected_urls``, (b) pins it in the warehouse
manifest at bootstrap so resumes can't drift, and (c) FAILS LOUDLY
(pre-commit) if a rebuild would ever exceed the per-partition budget.
"""

from __future__ import annotations

import re

import pytest

from crawlkit import schema
from crawlkit.urlseen import (
    PARTITION_BYTE_BUDGET,
    REBUILD_HEADROOM,
    derive_n_partitions,
    filter_payload_bytes,
    probe_unseen,
    updated_bloom_partitions,
)


def test_derive_n_partitions_respects_budget():
    for n in (10**4, 10**6, 10**8, 10**10):
        p = derive_n_partitions(n)
        assert p & (p - 1) == 0  # power of two
        per_part = -(-n // p) * REBUILD_HEADROOM
        assert filter_payload_bytes(per_part) <= PARTITION_BYTE_BUDGET
        # minimality: half the partitions would blow the budget
        if p > 1:
            per_part2 = -(-n // (p // 2)) * REBUILD_HEADROOM
            assert filter_payload_bytes(per_part2) > PARTITION_BYTE_BUDGET


def test_derive_n_partitions_design_point():
    # the documented sizing rule (BASELINE.md): 10^10 urls at the
    # 64 MiB default budget
    assert derive_n_partitions(10**10) == 512
    assert derive_n_partitions(10**6) == 1
    with pytest.raises(ValueError):
        derive_n_partitions(0)


def test_config_derives_partitions_from_expected_urls(tmp_warehouse):
    from crawlkit.rounds import CrawlConfig

    cfg = CrawlConfig(warehouse=tmp_warehouse, expected_urls=10**10)
    assert cfg.n_bloom_partitions == 512
    # no hint → the default stands
    assert CrawlConfig(warehouse=tmp_warehouse).n_bloom_partitions == 64


def test_rebuild_past_budget_fails_loudly(spark):
    """Inserting more than the per-partition byte budget can hold must
    raise (with sizing guidance), never ship the oversized cell; under
    an adequate budget the same insert succeeds with probe semantics
    intact."""
    hashes = spark.createDataFrame(
        [(h * 2654435761,) for h in range(60_000)], "url_hash long"
    )
    empty_state = spark.createDataFrame([], schema.URLSEEN_BLOOM_SCHEMA)
    # 60k items in ONE partition: bloom payload ~72 KB > a 16 KB budget
    with pytest.raises(Exception, match="derive_n_partitions"):
        updated_bloom_partitions(
            hashes, empty_state, hashes.limit(0), 1, round_no=1,
            byte_budget=16 * 1024,
        ).count()
    # 16 partitions keep every payload under the same budget — and the
    # resulting state actually filters (no false negatives)
    state = updated_bloom_partitions(
        hashes, empty_state, hashes.limit(0), 16, round_no=1,
        byte_budget=16 * 1024,
    ).persist()
    assert state.count() == 16
    unseen = probe_unseen(hashes, state, hashes, 16)
    assert unseen.count() == 0  # everything inserted probes as seen
    state.unpersist()


def test_resume_adopts_pinned_partition_count(spark, pages, ref_crawl,
                                              tmp_path_factory):
    """The bootstrap commit pins n_bloom_partitions in the manifest;
    a resume with drifted config adopts the pinned value (partition
    ids are pmod(url_hash, P) — a different P would probe the wrong
    partitions)."""
    from conftest import copy_warehouse
    from crawlkit.rounds import CrawlConfig, run_crawl
    from crawlkit.storage import Warehouse

    src_cfg, _, wh_dir = ref_crawl
    pinned = Warehouse(wh_dir).latest_extra("n_bloom_partitions")
    assert pinned is not None and pinned[1] == src_cfg.n_bloom_partitions
    d = copy_warehouse(wh_dir, tmp_path_factory, "wh-pinned")
    drifted = CrawlConfig(warehouse=d, n_bloom_partitions=4,
                          max_depth=src_cfg.max_depth, salt=src_cfg.salt)
    run_crawl(spark, drifted, pages, max_rounds=1)
    assert drifted.n_bloom_partitions == src_cfg.n_bloom_partitions


def test_resume_without_pinned_partition_count_raises(spark, pages, ref_crawl,
                                                      tmp_path_factory):
    """Every bootstrap pins n_bloom_partitions, so a warehouse whose
    manifest lacks it cannot be resumed: run_crawl raises, naming the
    warehouse, before any round runs."""
    import json

    from conftest import copy_warehouse
    from crawlkit.rounds import CrawlConfig, run_crawl
    from crawlkit.storage import Warehouse

    src_cfg, _, wh_dir = ref_crawl
    d = copy_warehouse(wh_dir, tmp_path_factory, "wh-unpinned")
    manifest_path = Warehouse(d)._manifest_path
    manifest = json.loads(manifest_path.read_text())
    for entry in manifest["rounds"].values():
        entry.pop("n_bloom_partitions", None)
    manifest_path.write_text(json.dumps(manifest))
    last = manifest["last_round"]

    cfg = CrawlConfig(warehouse=d, n_bloom_partitions=4,
                      max_depth=src_cfg.max_depth, salt=src_cfg.salt)
    with pytest.raises(ValueError, match=re.escape(d)):
        run_crawl(spark, cfg, pages, max_rounds=1)
    assert Warehouse(d).last_committed_round() == last
    assert not Warehouse(d).round_path("results", last + 1).exists()
