"""Warehouse commit-protocol contract (VERDICT r3 item 4).

The in-task shard-write protocol lives entirely in
``storage.ShardSink`` / ``Warehouse.staging_sink``: object-store-safe
path resolution (pyarrow.fs), overwrite-by-task-id idempotence,
crashed-attempt orphan wipe, and manifest-gated visibility.  These
tests pin the contract a deployment relies on when pointing the
warehouse at S3-style storage.
"""

from __future__ import annotations

import pyarrow as pa

from crawlkit import schema
from crawlkit.storage import Warehouse


def _shard(rows):
    return pa.Table.from_pylist(
        [{"url_hash": h, "url_canon": u, "round": 1} for h, u in rows],
        schema=pa.schema(
            [("url_hash", pa.int64()), ("url_canon", pa.string()),
             ("round", pa.int32())]
        ),
    )


def _write_shard(sink, table, shard_id):
    """One task's whole shard through the sink's one entry point."""
    w = sink.open_writer(shard_id, table.schema)
    w.write_table(table)
    w.close()


def test_staged_shards_invisible_until_commit(spark, tmp_warehouse):
    wh = Warehouse(tmp_warehouse)
    sink = wh.staging_sink("urlseen_exact", 1)
    _write_shard(sink, _shard([(1, "https://a.example/")]), 0)
    # staged but uncommitted: readers see nothing
    assert (
        wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA).count()
        == 0
    )
    wh.commit_round(1, {"urlseen_exact": wh.row_count("urlseen_exact", 1)})
    assert (
        wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA).count()
        == 1
    )


def test_crashed_attempt_leaves_no_visible_orphans(spark, tmp_warehouse):
    """Attempt 1 writes shards 0 and 1 then 'crashes' (no commit).
    Attempt 2 — possibly with a different task layout — re-acquires
    the sink (which wipes the orphans), writes only shard 0, and
    commits.  Readers must see exactly attempt 2's rows."""
    wh = Warehouse(tmp_warehouse)
    crashed = wh.staging_sink("urlseen_exact", 1)
    _write_shard(crashed, _shard([(1, "https://old.example/a")]), 0)
    _write_shard(crashed, _shard([(2, "https://old.example/b")]), 1)

    retry = wh.staging_sink("urlseen_exact", 1)
    _write_shard(retry, _shard([(3, "https://new.example/a")]), 0)
    wh.commit_round(1, {"urlseen_exact": wh.row_count("urlseen_exact", 1)})

    rows = {
        r["url_canon"]
        for r in wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA)
        .select("url_canon")
        .collect()
    }
    assert rows == {"https://new.example/a"}


def test_task_retry_overwrites_own_shard(spark, tmp_warehouse):
    """A retried task re-writes its shard by name — idempotent, never
    duplicated."""
    wh = Warehouse(tmp_warehouse)
    sink = wh.staging_sink("urlseen_exact", 1)
    _write_shard(sink, _shard([(1, "https://try1.example/")]), 0)
    _write_shard(sink, _shard([(1, "https://try2.example/")]), 0)  # retry wins
    wh.commit_round(1, {"urlseen_exact": wh.row_count("urlseen_exact", 1)})
    rows = [
        r["url_canon"]
        for r in wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA)
        .select("url_canon")
        .collect()
    ]
    assert rows == ["https://try2.example/"]


def test_incremental_writer_streams_row_groups(spark, tmp_warehouse):
    """ShardSink.open_writer: multiple Arrow batches land in ONE shard
    with byte-bounded row groups (small batches COALESCE into one
    group; a sub-target buffer flushes at close), same overwrite-by-
    task-id retry protocol, invisible until commit."""
    import pyarrow.parquet as pq

    wh = Warehouse(tmp_warehouse)
    sink = wh.staging_sink("urlseen_exact", 1)
    w = sink.open_writer(0, _shard([]).schema)
    w.write_table(_shard([(1, "https://a.example/")]))
    w.write_table(_shard([(2, "https://b.example/")]))
    w.close()
    # retried task overwrites its own shard by name
    w2 = sink.open_writer(0, _shard([]).schema)
    w2.write_table(_shard([(3, "https://c.example/")]))
    w2.write_table(_shard([(4, "https://d.example/")]))
    w2.close()
    assert (
        wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA).count()
        == 0
    )  # invisible pre-commit
    wh.commit_round(1, {"urlseen_exact": wh.row_count("urlseen_exact", 1)})
    got = sorted(
        r["url_canon"]
        for r in wh.read(spark, "urlseen_exact", schema.URLSEEN_EXACT_SCHEMA)
        .select("url_canon").collect()
    )
    assert got == ["https://c.example/", "https://d.example/"]
    # Two tiny batches sit far below the 64 MiB row-group target, so
    # they coalesce into ONE row group (the scan-efficiency invariant).
    [f] = list((wh.round_path("urlseen_exact", 1)).glob("*.parquet"))
    assert pq.ParquetFile(f).metadata.num_row_groups == 1

    # With the target forced below one batch, every batch flushes as
    # its own row group (the bounded-memory invariant).
    w3 = sink.open_writer(0, _shard([]).schema)
    w3._target = 1
    w3.write_table(_shard([(5, "https://e.example/")]))
    w3.write_table(_shard([(6, "https://f.example/")]))
    w3.close()
    [f] = list((wh.round_path("urlseen_exact", 1)).glob("*.parquet"))
    assert pq.ParquetFile(f).metadata.num_row_groups == 2


def test_aborted_writer_leaves_no_shard(tmp_warehouse):
    """A task whose generator stops early must NOT leave a valid-
    looking truncated shard: abort() deletes the partial file, so 'a
    shard exists iff its task completed' holds for the incremental
    writer."""
    wh = Warehouse(tmp_warehouse)
    sink = wh.staging_sink("urlseen_exact", 1)
    w = sink.open_writer(0, _shard([]).schema)
    w.write_table(_shard([(1, "https://torn.example/")]))
    w.abort()
    assert list(wh.round_path("urlseen_exact", 1).glob("*.parquet")) == []
    # abort after an on-target flush also removes the file
    w2 = sink.open_writer(1, _shard([]).schema)
    w2._target = 1
    w2.write_table(_shard([(2, "https://torn.example/b")]))
    w2.abort()
    assert list(wh.round_path("urlseen_exact", 1).glob("*.parquet")) == []


def test_fetch_holds_no_filesystem_assumptions():
    """The fetch stage must route every byte through the warehouse
    protocol — no raw path handling that would silently assume POSIX
    on an object-store deployment."""
    import inspect

    import crawlkit.fetch as fetch

    src = inspect.getsource(fetch)
    assert "shutil" not in src
    assert "os.makedirs" not in src and "os.path.join" not in src
