"""Span tracing around calls into crawlkit's layers.

A :class:`Tracer` records spans (name, start, end, parent) in memory.
:func:`install_crawl_tracing` swaps the entry points that
``crawlkit.rounds.run_round`` looks up at call time (module globals and
``Warehouse`` methods) for wrappers that open a span, tag the Spark jobs
submitted meanwhile with the span id (the ``perfbench.span`` local
property, read back from the event log), then persist and count the
frame the call returns, so the layer's lazy work runs inside its span.
Inputs the span forces first are charged to it: the P3 freshness join,
for example, runs inside the first probe span of a round.

Nothing here is active unless installed; :func:`install_round_clock`
is the untraced variant and only times whole rounds.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc  # SparkContext whose jobs get the span id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened by threads with no open span of their
        # own (the engine's state-write pool), set to the current round
        self.anchor: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def open(self, name: str, parent: Span | None = None) -> Span:
        parent = parent or self.current() or self.anchor
        with self._lock:
            span = Span(len(self.spans), name,
                        parent.id if parent else None, time.time())
            self.spans.append(span)
        self._stack().append(span)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(span.id))
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        stack.remove(span)
        self.sc.setLocalProperty(
            SPAN_PROPERTY, str(stack[-1].id) if stack else None
        )

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None,
             anchor: bool = False):
        """Open a span for the with-block.  ``anchor`` also makes it the
        parent of spans opened meanwhile by threads that have none."""
        span = self.open(name, parent)
        prev = self.anchor
        if anchor:
            self.anchor = span
        try:
            yield span
        finally:
            self.anchor = prev
            self.close(span)

    # -- analysis ---------------------------------------------------------
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, frontier = [], [span.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out.extend(kids)
            frontier = [s.id for s in kids]
        return out

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the union of its children's intervals
        (children that ran in parallel threads are counted once)."""
        ivs = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.children(span)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.seconds - covered

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "self_s": round(self.self_seconds(s), 6), "counts": s.counts}
            for s in self.spans
        ]


class Patches:
    """Attribute swaps that :meth:`restore` undoes."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def restore(self) -> None:
        for owner, attr, value in reversed(self._saved):
            setattr(owner, attr, value)
        self._saved.clear()


def install_round_clock(rounds_mod, records: list[dict]) -> Patches:
    """Time every ``run_round`` call (wall + steal%) without touching
    what the round does.  Used by untraced runs."""
    from .context import cpu_ticks, steal_pct

    patches = Patches()
    inner = rounds_mod.run_round

    @functools.wraps(inner)
    def run_round(spark, wh, cfg, pages, round_no):
        ticks, t0 = cpu_ticks(), time.perf_counter()
        out = inner(spark, wh, cfg, pages, round_no)
        records.append({
            "round": round_no,
            "seconds": time.perf_counter() - t0,
            "steal_pct": steal_pct(ticks, cpu_ticks()),
            "metrics": out,
        })
        return out

    patches.set(rounds_mod, "run_round", run_round)
    return patches


def _force(df, pinned: list) -> int:
    """Persist and count ``df`` inside the current span."""
    df.persist()
    pinned.append(df)
    return df.count()


def install_crawl_tracing(tracer: Tracer, rounds_mod, warehouse_cls,
                          records: list[dict]) -> Patches:
    """Wrap the layer entry points ``run_round`` resolves at call time.

    Each wrapper's span records row counts in ``span.counts``; frames the
    wrappers persisted are unpersisted when their round ends."""
    from .context import cpu_ticks, steal_pct

    patches = Patches()
    pinned: list = []

    def wrap_frame_fn(attr: str, span_name: str, count_input: bool,
                      extra=None):
        inner = getattr(rounds_mod, attr)

        @functools.wraps(inner)
        def wrapper(df, *args, **kwargs):
            with tracer.span(span_name) as span:
                if count_input:
                    with tracer.span(span_name + ".inputs") as sub:
                        sub.counts["rows"] = span.counts["rows_in"] = _force(df, pinned)
                out = inner(df, *args, **kwargs)
                span.counts["rows_out"] = _force(out, pinned)
                if extra is not None:
                    extra(out, span)
            return out

        patches.set(rounds_mod, attr, wrapper)

    def politeness_split(out, span) -> None:
        for row in out.groupBy("is_selected").count().collect():
            key = "selected" if row["is_selected"] else "deferred"
            span.counts[key] = int(row["count"])

    def fetch_status(out, span) -> None:
        for row in out.groupBy("status").count().collect():
            span.counts["status." + row["status"]] = int(row["count"])

    wrap_frame_fn("probe_unseen", "urlseen.probe", True)
    wrap_frame_fn("updated_bloom_partitions", "urlseen.rebuild", False)
    wrap_frame_fn("politeness_ranked", "politeness.rank", True,
                  politeness_split)
    wrap_frame_fn("fetch_extract_write", "fetch.fetch_extract", True,
                  fetch_status)
    wrap_frame_fn("with_url_identity", "sparkfns.url_identity", True)

    w_write, w_read = warehouse_cls.write, warehouse_cls.read
    w_commit, w_count = warehouse_cls.commit_round, warehouse_cls.row_count

    def write(self, df, table, round_no):
        with tracer.span(f"storage.write.{table}"):
            return w_write(self, df, table, round_no)

    def read(self, spark, table, schema, rounds=None):
        with tracer.span(f"storage.read.{table}") as span:
            out = w_read(self, spark, table, schema, rounds)
            span.counts["rows"] = _force(out, pinned)
        return out

    def commit_round(self, *args, **kwargs):
        with tracer.span("storage.commit"):
            return w_commit(self, *args, **kwargs)

    def row_count(self, table, round_no):
        with tracer.span("storage.row_count"):
            return w_count(self, table, round_no)

    patches.set(warehouse_cls, "write", write)
    patches.set(warehouse_cls, "read", read)
    patches.set(warehouse_cls, "commit_round", commit_round)
    patches.set(warehouse_cls, "row_count", row_count)

    inner_round = rounds_mod.run_round

    @functools.wraps(inner_round)
    def run_round(spark, wh, cfg, pages, round_no):
        ticks = cpu_ticks()
        with tracer.span("rounds.round", anchor=True) as span:
            span.counts["round"] = round_no
            try:
                out = inner_round(spark, wh, cfg, pages, round_no)
            finally:
                for df in pinned:
                    df.unpersist()
                pinned.clear()
        records.append({
            "round": round_no, "seconds": span.seconds,
            "steal_pct": steal_pct(ticks, cpu_ticks()),
            "metrics": out, "span": span.id,
        })
        return out

    patches.set(rounds_mod, "run_round", run_round)
    return patches
