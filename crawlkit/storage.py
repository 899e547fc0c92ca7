"""Warehouse: per-round snapshot tables with atomic manifest commits.

On a production cluster these tables are Iceberg (atomic snapshot per
round, bucketed by host-hash; SURVEY.md §1.3).  This sandbox has no
Iceberg runtime jar, so the same *commit semantics* are provided by a
directory-per-round Parquet layout plus a JSON manifest whose rewrite
(temp file + ``os.replace``) is the atomic commit point — readers only
see rounds recorded in the manifest, exactly like Iceberg snapshot
isolation.  ``rounds.py`` is written against this interface only, so an
Iceberg-backed implementation is a drop-in swap.

Checkpoint/resume (T6, reference graceful-shutdown analog
``src/main.ts:22-33``): resume = read manifest → last committed round →
continue; a half-written round directory is invisible and re-executed.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _fs_and_root(path: str):
    """(pyarrow.fs.FileSystem, in-fs path) for a local dir or an
    object-store URI — the one place storage-protocol resolution
    happens, so pointing the warehouse at ``s3://bucket/wh`` changes
    no other code."""
    from pyarrow import fs as pafs

    if "://" in str(path):
        return pafs.FileSystem.from_uri(str(path))
    return pafs.LocalFileSystem(), str(path)


class ShardSink:
    """Picklable per-round shard writer handed to executor tasks
    (``fetch.fetch_extract_write``).  Owns the warehouse's in-task
    write protocol so the commit semantics live in ONE documented
    place:

    * paths resolve through ``pyarrow.fs`` — a POSIX dir and an
      S3-style store take the same code path (no driver-side
      ``shutil``/``os`` assumptions);
    * one shard per task id, overwrite-by-name: a retried task
      replaces its own shard, so task retries are idempotent
      (speculative execution must stay off — asserted by the caller —
      because a speculative twin racing the original on the same name
      could tear a shard);
    * staged shards are INVISIBLE to readers until
      :meth:`Warehouse.commit_round` publishes the round in the
      manifest — the manifest is the ONLY commit point, so no rename
      or directory-listing atomicity is assumed of the store.
    """

    def __init__(self, path: str) -> None:
        self.path = str(path)

    def open_writer(self, shard_id: int, schema) -> "ShardWriter":
        """Open shard ``part-<shard_id>.parquet`` for one task: the
        overwrite-by-task-id protocol above, with rows streamed out in
        byte-bounded row groups (``pyarrow.parquet.ParquetWriter``):
        Arrow batches accumulate in the writer until
        :data:`ROW_GROUP_BYTES` of uncompressed bytes, then flush as
        ONE row group.  A task therefore holds O(row-group target) wide
        bytes — never its whole shard, which is gigabytes at the
        10^10-URL design point — while the shard keeps scan-efficient
        row groups instead of one tiny group per 1k-row Arrow batch
        (many small row groups inflate parquet footer metadata and
        defeat row-group pruning at read time)."""
        import pyarrow.parquet as pq

        filesystem, root = _fs_and_root(self.path)
        filesystem.create_dir(root, recursive=True)
        path = f"{root}/part-{shard_id:05d}.parquet"
        stream = filesystem.open_output_stream(path)
        return ShardWriter(
            stream, pq.ParquetWriter(stream, schema, compression="zstd"),
            filesystem, path,
        )


ROW_GROUP_BYTES = 64 * 1024 * 1024


class ShardWriter:
    """Open incremental shard: feed Arrow tables, then close (closes
    the parquet footer AND the store stream — a shard is only complete
    after close; a task that dies mid-write leaves a torn file that the
    next attempt of the SAME task id overwrites by name).

    Batches buffer up to :data:`ROW_GROUP_BYTES` of uncompressed Arrow
    bytes before flushing as a single row group, bounding worker
    memory at O(target + one batch) while keeping row groups large
    enough that a 100 TB scan isn't dominated by per-group metadata
    and per-group decompression ramp."""

    def __init__(self, stream, writer, filesystem, fs_path: str) -> None:
        self._stream = stream
        self._writer = writer
        self._fs = filesystem
        self._fs_path = fs_path
        self._target = ROW_GROUP_BYTES
        self._buf: list = []
        self._buf_nbytes = 0

    def write_table(self, table) -> None:
        self._buf.append(table)
        self._buf_nbytes += table.nbytes
        if self._buf_nbytes >= self._target:
            self._flush()

    def _flush(self) -> None:
        if not self._buf:
            return
        import pyarrow as pa

        self._writer.write_table(pa.concat_tables(self._buf))
        self._buf = []
        self._buf_nbytes = 0

    def close(self) -> None:
        self._flush()
        self._writer.close()
        self._stream.close()

    def abort(self) -> None:
        """Abandon the shard: close the stream WITHOUT finalizing a
        parquet footer and delete the partial file.  Used when the
        producing task stops early (e.g. its mapInPandas generator is
        closed by a partial-consumption action): closing normally
        would leave a VALID-looking footer over a truncated prefix —
        a complete-looking shard the commit protocol would happily
        publish.  After abort, 'a shard file exists iff its task ran
        to completion' holds again."""
        self._buf = []
        try:
            # close the ParquetWriter first (the file is deleted below
            # anyway): a dangling writer's __del__ would later try to
            # append a footer to the closed stream and spray
            # 'Exception ignored in' noise on every aborted task
            try:
                self._writer.close()
            except Exception:
                pass
            self._stream.close()
        finally:
            try:
                self._fs.delete_file(self._fs_path)
            except FileNotFoundError:
                pass


class Warehouse:
    def __init__(self, path: str | os.PathLike) -> None:
        self.root = Path(path)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    @property
    def _manifest_path(self) -> Path:
        return self.root / "_manifest.json"

    def _read_manifest(self) -> dict:
        if not self._manifest_path.exists():
            return {"last_round": None, "rounds": {}}
        return json.loads(self._manifest_path.read_text())

    def commit_round(self, round_no: int, tables: dict[str, int],
                     ts: str | None = None,
                     extra: dict | None = None) -> None:
        """Atomically publish a round: record table row-counts (plus an
        optional logical timestamp — the crawl's ``cfg.now`` — used by
        recrawl expiry to manifest-prune which results shards can even
        CONTAIN expirable rows); readers never see data from
        uncommitted rounds.  ``extra`` carries engine metadata that
        must commit atomically WITH the round (e.g. the pinned
        seen-filter partition count at bootstrap, the expiry scan's
        validity signature) — queried back via :meth:`latest_extra`."""
        manifest = self._read_manifest()
        entry: dict = {"tables": tables}
        if ts is not None:
            entry["ts"] = ts
        if extra:
            entry.update(extra)
        manifest["rounds"][str(round_no)] = entry
        last = manifest["last_round"]
        manifest["last_round"] = round_no if last is None else max(last, round_no)
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="_manifest_", suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, self._manifest_path)

    def last_committed_round(self) -> int | None:
        return self._read_manifest()["last_round"]

    def extras(self, key: str) -> list[tuple[int, object]]:
        """(round_no, value) of every committed round whose manifest
        entry carries ``key`` (written via ``commit_round``'s
        ``extra``), oldest first.  Reading from the manifest keeps the
        lookup a metadata operation — no Spark job, no data scan."""
        manifest = self._read_manifest()
        return sorted(
            (int(r), info[key])
            for r, info in manifest["rounds"].items()
            if key in info
        )

    def latest_extra(self, key: str) -> tuple[int, object] | None:
        """The newest of :meth:`extras`, or None."""
        hits = self.extras(key)
        return hits[-1] if hits else None

    def committed_rounds(self, table: str) -> list[int]:
        manifest = self._read_manifest()
        return sorted(
            int(r)
            for r, info in manifest["rounds"].items()
            if table in info["tables"]
        )

    def rounds_at_or_before(self, table: str, ts: str) -> list[int]:
        """Committed rounds of ``table`` whose logical timestamp is
        <= ``ts`` (ISO-8601 strings compare lexicographically).  Rounds
        committed WITHOUT a timestamp are conservatively included —
        they may be old, and including extra shards only costs scan
        bytes, never correctness."""
        manifest = self._read_manifest()
        return sorted(
            int(r)
            for r, info in manifest["rounds"].items()
            if table in info["tables"] and info.get("ts", "") <= ts
        )

    # -- data -------------------------------------------------------------
    def round_path(self, table: str, round_no: int) -> Path:
        """Staging path for a round's data — written by the engine
        (including in-task pyarrow shard writers), invisible to readers
        until commit_round publishes it in the manifest."""
        return self.root / table / f"round={round_no}"

    def staging_sink(self, table: str, round_no: int) -> ShardSink:
        """Per-attempt :class:`ShardSink` for in-task shard writes.
        Wipes any shards left by a crashed previous attempt of the
        SAME round first: a resumed round re-executes with a possibly
        different task layout (core count, AQE coalescing), and orphan
        ``part-*`` files from the failed attempt must not leak into
        the committed round.  Safe because an uncommitted round is
        invisible to every reader — the wipe deletes only
        never-published data."""
        filesystem, root = _fs_and_root(str(self.round_path(table, round_no)))
        try:
            filesystem.delete_dir_contents(root)
        except FileNotFoundError:
            pass
        filesystem.create_dir(root, recursive=True)
        return ShardSink(str(self.round_path(table, round_no)))

    def write(self, df: DataFrame, table: str, round_no: int) -> None:
        """Stage a round's data (not visible until commit_round)."""
        df.write.mode("overwrite").parquet(str(self.round_path(table, round_no)))

    def row_count(self, table: str, round_no: int) -> int:
        """Row count of a staged round from parquet FOOTER metadata —
        no Spark job.  Iceberg keeps the same number in snapshot
        manifests; here the footers are the metadata store.  Replaces
        post-write ``df.count()`` actions, which each cost a full
        scheduling round-trip just to recount already-written data."""
        import pyarrow.parquet as pq

        total = 0
        d = self.round_path(table, round_no)
        for f in d.glob("*.parquet"):
            total += pq.ParquetFile(f).metadata.num_rows
        return total

    # -- bucketed pages (J8 fetch join) ------------------------------------
    def pages_bucket_count(self) -> int | None:
        """Bucket count pinned by a previous :meth:`bucketized_pages`
        ingest into this warehouse, or None if pages were never
        bucketized here.  Like the seen-filter partition count, the
        on-disk layout is authoritative on resume: a caller that
        omits ``pages_buckets`` reuses the existing ingest instead of
        re-ingesting at another count."""
        spec_path = self.root / "pages_bucketed" / "_bucket_spec.json"
        if not spec_path.exists():
            return None
        return int(json.loads(spec_path.read_text())["buckets"])

    def bucketized_pages(self, pages: DataFrame, buckets: int) -> DataFrame:
        """Bucket-cluster the pages corpus on its join key (``url``)
        ONCE, so every round's fetch join co-partitions with the scan
        and the html-bearing side crosses ZERO exchanges at ANY
        selected-set size, up to the 10^10-URL design point where a
        per-round broadcast is impossible.  This is the parquet
        stand-in for Iceberg's ``bucket(url)`` partition transform
        (SURVEY.md §1.3), expressed through Spark's native bucketed
        tables: the scan reports ``HashPartitioning(url, buckets)``,
        so EnsureRequirements shuffles only the narrow frontier side
        into the bucketing.

        Cost model: the one-time ingest shuffles the corpus once, into
        the bucket partitioning, so each write task holds exactly one
        bucket and writes ONE file for it (without it, every input
        task writes a file per bucket it touches: input tasks ×
        buckets small files for every later scan to open); every
        subsequent round reads co-partitioned — the classic
        write-once/join-forever trade.

        Idempotent ensure: (a) table already in the session catalog →
        reuse; (b) data on disk from a previous session (resume) →
        re-register external-table DDL over the existing bucketed
        files (Spark derives each file's bucket id from its
        ``_NNNNN`` filename component); (c) otherwise ingest.  The
        bucket spec is pinned in ``_bucket_spec.json`` next to the
        data; a mismatched ``buckets`` on resume fails loudly instead
        of silently mis-joining."""
        import hashlib

        spark = pages.sparkSession
        loc = self.root / "pages_bucketed"
        tag = hashlib.blake2b(
            str(self.root.resolve()).encode(), digest_size=4
        ).hexdigest()
        name = f"crawlkit_pages_b{buckets}_{tag}"
        spec_path = loc / "_bucket_spec.json"
        if spark.catalog.tableExists(name):
            return spark.table(name)
        if spec_path.exists():
            spec = json.loads(spec_path.read_text())
            if spec["buckets"] != buckets:
                raise ValueError(
                    f"pages_bucketed at {loc} has {spec['buckets']} buckets; "
                    f"requested {buckets} — re-ingest or match the spec"
                )
            spark.sql(
                f"CREATE TABLE {name} ({spec['ddl']}) USING parquet "
                f"CLUSTERED BY (url) INTO {buckets} BUCKETS "
                f"LOCATION '{loc}'"
            )
            return spark.table(name)
        (
            pages.repartition(buckets, "url")
            .write.format("parquet")
            .bucketBy(buckets, "url")
            .option("path", str(loc))
            .mode("overwrite")
            .saveAsTable(name)
        )
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in pages.schema.fields
        )
        spec_path.write_text(json.dumps({"buckets": buckets, "ddl": ddl}))
        return spark.table(name)

    def read(
        self,
        spark: SparkSession,
        table: str,
        schema: T.StructType,
        rounds: list[int] | None = None,
    ) -> DataFrame:
        """Read committed rounds only (or an explicit round subset)."""
        if rounds is None:
            rounds = self.committed_rounds(table)
        paths = [
            str(self.round_path(table, r))
            for r in rounds
            if self.round_path(table, r).exists()
        ]
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)
