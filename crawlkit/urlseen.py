"""URL-seen set: partitioned bloom pre-filter + exact confirm (J2).

Replaces the reference's LWT row lock + freshness probe
(``/root/reference/src/db/model.ts:115-128,161-191``) with batch
semantics (SURVEY.md §4.2):

* ``urlseen_bloom``: P filter partitions (P **must be a power of two**
  so the JVM-side ``pmod(xxhash64, P)`` equals the numpy unsigned mod),
  each a byte-serialized `bloom.BloomPartition` bit array.
* ``urlseen_exact``: the exact hash set, used to confirm filter hits so
  the final URL-seen set is *exactly* the reference's — false
  positives cost an extra join probe, never a lost URL.

Scale shape: candidates are co-grouped with their filter partition
(``cogroup.applyInPandas`` — only the touched partitions move), the
filter knocks out the ~99% already-seen mass, and only surviving hits
can match in the exact anti-join (its condition requires a hit).
Partitions rebuild from the exact set only when over-full (amortized
O(1) per insert).  Recrawl expiry never touches the filter: an
evicted url's bits stay set, so it lands among the filter hits and
the exact anti-join (over the tombstone-filtered set,
`effective_exact`) reports it unseen.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .bloom import BloomPartition, optimal_bits
from .schema import URLSEEN_BLOOM_SCHEMA

MIN_CAPACITY = 4096
FILL_REBUILD_RATIO = 0.6

# Hard ceiling on one partition's serialized filter payload.  A filter
# row is ONE binary cell: at the 10^10-URL design point an undersized
# partition count would silently grow cells into the hundreds of MB —
# brushing Spark's 2 GB row/buffer hazard, and making every rebuild
# ship ~10^8 exact rows.  Rebuilds that would exceed the budget FAIL
# LOUDLY (pre-commit, so the crawl resumes cleanly after resizing)
# instead of shipping the oversized cell; size the partition count up
# front with :func:`derive_n_partitions`.
PARTITION_BYTE_BUDGET = 64 * 1024 * 1024

# Rebuilds size for 2x the partition's current items (amortized O(1)
# inserts) — partition sizing must budget for that headroom.
REBUILD_HEADROOM = 2


def filter_payload_bytes(n_items: int) -> int:
    """Serialized payload size of one partition's bloom holding
    ``n_items``: 12B header + the optimal bit array."""
    return 12 + optimal_bits(max(n_items, 1)) // 8


def derive_n_partitions(
    expected_urls: int,
    byte_budget: int | None = None,
) -> int:
    """Smallest power-of-two partition count keeping every partition's
    filter payload within ``byte_budget`` at ``expected_urls`` total —
    INCLUDING the 2x rebuild headroom, so the budget holds across the
    whole growth schedule, not just at the nominal fill.

    Sizing rule (documented in BASELINE.md): bloom ≈ 1.2 B/item at 1%
    fpp — at the 10^10-URL design point with the default 64 MiB budget
    this derives 512 partitions.  The count is pinned in the warehouse
    manifest at bootstrap; resumes adopt the pinned value (the stored
    partition layout is authoritative — see ``rounds.run_crawl``)."""
    if expected_urls <= 0:
        raise ValueError(f"expected_urls must be positive, got {expected_urls}")
    budget = PARTITION_BYTE_BUDGET if byte_budget is None else byte_budget
    p = 1
    while p < (1 << 30):
        per_part = -(-expected_urls // p) * REBUILD_HEADROOM
        if filter_payload_bytes(per_part) <= budget:
            return p
        p *= 2
    raise ValueError(
        f"no partition count keeps {expected_urls} urls under "
        f"{budget} bytes/partition — raise the byte budget"
    )


def _absorb_budget(bp: BloomPartition) -> int:
    """How many items the filter may hold before an in-place absorb
    must give way to a rebuild: a fraction of its design capacity,
    recovered from geometry (m = -n ln p /(ln2)^2)."""
    capacity = max(int(bp.m_bits * (math.log(2) ** 2) / -math.log(0.01)), 1)
    return int(FILL_REBUILD_RATIO * capacity)


def _check_pow2(n: int) -> None:
    if n & (n - 1) or n <= 0:
        raise ValueError(f"n_partitions must be a power of two, got {n}")


def with_partition_id(df: DataFrame, n_partitions: int,
                      hash_col: str = "url_hash") -> DataFrame:
    _check_pow2(n_partitions)
    return df.withColumn(
        "partition_id", F.pmod(F.col(hash_col), F.lit(n_partitions)).cast("int")
    )


def latest_blooms(bloom_history: DataFrame) -> DataFrame:
    """Current bloom state = max-round row per partition (A1 pattern)."""
    return (
        bloom_history.groupBy("partition_id")
        .agg(F.max_by(F.struct("bloom_bytes", "n_items", "round"), "round").alias("s"))
        .select("partition_id", "s.bloom_bytes", "s.n_items", "s.round")
    )


def probe_unseen(
    candidates: DataFrame,
    bloom_state: DataFrame,
    exact_seen: DataFrame,
    n_partitions: int,
) -> DataFrame:
    """Return the candidate rows whose url_hash is NOT in the seen set.

    Two-phase: vectorized bloom probe per co-partition, then exact
    anti-join for the (few) bloom hits.  No false negatives by bloom
    construction; exact-confirm removes false positives.
    """
    cand = with_partition_id(candidates, n_partitions)
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        if right.empty:
            left["maybe_seen"] = False
            return left
        bp = BloomPartition.from_bytes(bytes(right["bloom_bytes"].iloc[0]))
        left["maybe_seen"] = bp.might_contain(left["url_hash"].to_numpy())
        return left

    probed = (
        cand.groupBy("partition_id")
        .cogroup(bloom_state.groupBy("partition_id"))
        .applyInPandas(probe, out_schema)
    )
    # ONE consumer of the cogroup: a filter miss can never match (the
    # join condition requires maybe_seen), so only filter hits are
    # checked against the exact set.  Two filtered branches unioned
    # would plan the cogroup, and everything above it, once per branch.
    exact = exact_seen.select(F.col("url_hash").alias("_seen_hash"))
    return probed.join(
        exact,
        F.col("maybe_seen") & (F.col("url_hash") == F.col("_seen_hash")),
        "left_anti",
    ).drop("partition_id", "maybe_seen")


def updated_bloom_partitions(
    new_hashes: DataFrame,
    bloom_state: DataFrame,
    exact_seen: DataFrame,
    n_partitions: int,
    round_no: int,
    byte_budget: int | None = None,
) -> DataFrame:
    """New filter rows for the partitions touched by ``new_hashes``.

    Each touched partition either absorbs the new hashes in place
    (capacity permitting) or rebuilds from exact ∪ new at 2× capacity.
    Only touched partitions are rewritten — per-round state delta stays
    proportional to the round's discoveries, not the total seen set.

    A partition whose serialized payload would exceed ``byte_budget``
    (default :data:`PARTITION_BYTE_BUDGET`) raises instead of shipping
    the oversized BINARY cell — the failure is pre-commit, so the fix
    is sizing (``derive_n_partitions``), not data surgery.
    """
    budget = PARTITION_BYTE_BUDGET if byte_budget is None else byte_budget
    _check_pow2(n_partitions)
    new_tagged = with_partition_id(
        new_hashes.select("url_hash").withColumn("is_new", F.lit(True)),
        n_partitions,
    )
    touched = new_tagged.select("partition_id").distinct()
    old_tagged = (
        with_partition_id(exact_seen.select("url_hash"), n_partitions)
        .join(touched, "partition_id")
        .withColumn("is_new", F.lit(False))
    )
    hashes = new_tagged.unionByName(old_tagged)

    def rebuild(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or not left["is_new"].any():
            return pd.DataFrame(
                columns=["partition_id", "bloom_bytes", "n_items", "round"]
            )
        pid = int(left["partition_id"].iloc[0])
        new_vals = left.loc[left["is_new"], "url_hash"].to_numpy()
        bp = (
            BloomPartition.from_bytes(bytes(right["bloom_bytes"].iloc[0]))
            if not right.empty
            else None
        )
        total = int(len(left))
        if bp is None or (bp.n_items + len(new_vals)) > _absorb_budget(bp):
            bp = BloomPartition.sized_for(max(MIN_CAPACITY, 2 * total))
            bp.add(left["url_hash"].to_numpy())
        else:
            bp.add(new_vals)
        payload = bp.to_bytes()
        if len(payload) > budget:
            raise ValueError(
                f"urlseen partition {pid} filter payload "
                f"{len(payload) / 2**20:.0f} MiB (at {bp.n_items} items) "
                f"exceeds the {budget / 2**20:.0f} MiB per-partition "
                f"budget — the partition count is undersized for this "
                f"crawl; bootstrap with n_bloom_partitions >= "
                f"derive_n_partitions(expected_urls) (or set "
                f"CrawlConfig.expected_urls).  Failing before commit so "
                f"the round re-executes cleanly after resizing."
            )
        return pd.DataFrame(
            {
                "partition_id": [pid],
                "bloom_bytes": [payload],
                "n_items": [int(bp.n_items)],
                "round": [round_no],
            }
        )

    return (
        hashes.groupBy("partition_id")
        .cogroup(bloom_state.groupBy("partition_id"))
        .applyInPandas(rebuild, URLSEEN_BLOOM_SCHEMA)
    )


def effective_exact(exact_seen: DataFrame, tombstones: DataFrame) -> DataFrame:
    """The live exact seen set under recrawl-expiry tombstones.

    A tombstone row (h, r) kills exact rows for url_hash h with
    ``round <= r`` — round-aware so a url re-crawled AFTER its eviction
    (its new exact row has round > r) is seen again without having to
    delete the tombstone.  Expiry thus writes O(evicted) tombstone rows
    instead of rewriting the append-only exact table; this filter is
    the read-side contract every exact consumer applies.

    The join side is the (usually tiny) per-hash max tombstone round;
    AQE picks broadcast when it fits — no explicit broadcast hint, so a
    corpus-scale expiry cannot OOM the driver.
    """
    tomb = tombstones.groupBy("url_hash").agg(
        F.max("round").alias("evict_round")
    )
    return (
        exact_seen.join(tomb, "url_hash", "left")
        .where(
            F.col("evict_round").isNull()
            | (F.col("round") > F.col("evict_round"))
        )
        .drop("evict_round")
    )
