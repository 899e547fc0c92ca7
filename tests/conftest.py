from __future__ import annotations

import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from crawlkit.session import get_spark

    s = get_spark(app_name="crawlkit-tests", master="local[8]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def synth_cfg():
    from crawlkit.synth import SynthConfig

    return SynthConfig(n_pages=150, n_hosts=6, n_seeds=5, fanout=3)


@pytest.fixture(scope="session")
def pages(spark, synth_cfg):
    from crawlkit.synth import synth_pages

    df = synth_pages(spark, synth_cfg).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture()
def tmp_warehouse():
    d = tempfile.mkdtemp(prefix="crawlkit-wh-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# Shared reference crawls.  A full e2e crawl over the session corpus is
# the single most expensive fixture in the suite (~25s quiet, minutes
# under co-tenant weather), and half a dozen tests need one only as a
# READ-ONLY baseline (parity, plan audits) or as pre-built initial
# state (expiry resume).  Run it ONCE per session; tests that mutate
# state copy the directory first (Warehouse is
# path-relative, so copytree yields an independent warehouse).

# the standard e2e config every parity test agrees on
CRAWL_KW = dict(n_bloom_partitions=16, max_depth=3, salt=4)
# enough rounds for natural termination on the 150-page corpus
# (frontier drains after ~6 rounds; run_crawl stops on the first
# empty round, so the cap is slack, not work)
TERMINAL_ROUNDS = 8


@pytest.fixture(scope="session")
def ref_crawl(spark, pages, synth_cfg, tmp_path_factory):
    """(cfg, metrics, warehouse_dir) of one fully-terminated default
    crawl.  Treat the warehouse as read-only — copytree before
    resuming or mutating."""
    from crawlkit.rounds import CrawlConfig, run_crawl
    from crawlkit.synth import robots_df, seeds_df

    d = str(tmp_path_factory.mktemp("wh-session"))
    cfg = CrawlConfig(warehouse=d, **CRAWL_KW)
    metrics = run_crawl(spark, cfg, pages, seeds_df(spark, synth_cfg),
                        robots_df(spark, synth_cfg),
                        max_rounds=TERMINAL_ROUNDS)
    return cfg, metrics, d


def copy_warehouse(src_dir: str, tmp_path_factory, name: str) -> str:
    """An independent, mutable copy of a session warehouse."""
    d = str(tmp_path_factory.mktemp(name))
    shutil.copytree(src_dir, d, dirs_exist_ok=True)
    return d
