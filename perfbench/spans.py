"""Spans recorded from outside the package, and the arithmetic on them.

A span is one call into a layer's public function. With tracing on,
each span also runs under its own Spark job group, so the jobs it
starts can be read back from the status store (see ledger.py). The
package itself is never edited: calls the benchmark makes are wrapped
at the call site, and calls made inside the package are reached by
swapping the public function for a wrapper for the length of the run.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

# percentiles tried for the tail, highest first; p50 is reported apart
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    t0: float  # time.time() seconds, comparable with Spark's clock
    t1: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    return {
        s.sid: (s.t1 - s.t0) - union_length(
            clip(kids.get(s.sid, []), s.t0, s.t1))
        for s in spans
    }


def tail_percentile(samples: list[float]):
    """(percentile, value) for the highest percentile of TAIL_LADDER
    that has at least TAIL_MIN_BEYOND samples above its nearest-rank
    position, or None when the run is too short for any of them."""
    n = len(samples)
    xs = sorted(samples)
    for p in TAIL_LADDER:
        k = -(-int(p * 1000) * n // 100_000)  # ceil(p/100 * n), exact
        k = max(k, 1)
        if n - k >= TAIL_MIN_BEYOND:
            return p, xs[k - 1]
    return None


class Tracer:
    """Records spans; with `sc` set, each span is a Spark job group."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.sid if parent else None, name,
                 time.time(), attrs=dict(attrs))
        s.group = f"perfbench-{s.sid}"
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._set_group(parent.group if parent else None)

    def wrap(self, name: str, fn, on_result=None, **attrs):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, **attrs) as s:
                out = fn(*a, **kw)
                if on_result is not None and s is not None:
                    on_result(s, out)
                return out

        return traced

    def patch(self, owner, attr: str, name: str, on_result=None) -> None:
        """Swap owner.attr for a traced wrapper until unpatch()."""
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, on_result))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def subtree(self, root: Span) -> list[Span]:
        """root and every span started under it."""
        keep = {root.sid}
        out = [root]
        for s in self.spans[root.sid + 1:]:
            if s.parent in keep:
                keep.add(s.sid)
                out.append(s)
        return out


def instrument(tracer: Tracer) -> None:
    """Wrap the layer functions the package calls internally."""
    from data_engineering_pipeline_spark.operators import dedup, sig_store
    from data_engineering_pipeline_spark.plans import (
        reference_pipelines,
        search_pipeline,
    )
    from data_engineering_pipeline_spark.sources import snapshot_table

    for m in ("append", "overwrite", "merge_into", "read", "maintain"):
        tracer.patch(snapshot_table.SnapshotTable, m,
                     f"sources.snapshot_table.{m}")
    for m in ("probe", "commit", "compact"):
        tracer.patch(sig_store.BandedSignatureStore, m,
                     f"operators.sig_store.{m}")
    # imported inside the caller at call time, so the module attribute
    tracer.patch(dedup, "minhash_lsh_pairs",
                 "operators.dedup.minhash_lsh_pairs")
    for fn in ("bm25_scores", "mmr_rerank"):
        tracer.patch(search_pipeline, fn, f"operators.search.{fn}")
    for fn in ("ann_index_search", "build_ann_index"):
        tracer.patch(search_pipeline, fn, f"operators.ann_index.{fn}")

    def _rows(span, n):
        span.attrs["rows"] = n

    tracer.patch(reference_pipelines, "upsert_parquet",
                 "operators.upsert.upsert_parquet", on_result=_rows)


def trace_stages(tracer: Tracer, pipeline) -> None:
    """Wrap each stage fn of a built Pipeline from outside."""
    for st in pipeline.stages:
        st.fn = tracer.wrap(
            f"plans.reference_pipelines.stage.{pipeline.name}.{st.name}",
            st.fn, stage=True)
