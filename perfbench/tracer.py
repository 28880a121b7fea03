"""Span tracer for the benchmark's traced runs (``--trace 1``).

The tracer wraps the crawl's public boundaries from inside the benchmark
process: ``Staging.write_*`` and ``Staging.finalize``,
``CheckpointStore.compact``/``gc``, ``CrawlDriver.run_round`` and
``CrawlDriver.expire``. Each call becomes one span (name, start, end,
round, parent). Spans stay in memory and are written out when the run
ends. Per span it also records

- ``rows``/``bytes``: read from the footers of the parquet files the call
  wrote (pyarrow, no Spark job);
- ``tasks``: completed tasks of the Spark jobs the call ran, found through
  a job group set per span and ``SparkContext.statusTracker()``.

Nothing here changes what the package computes; ``uninstall()`` restores
every wrapped method.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass

import pyarrow.parquet as pq

# staged-table name -> span name (<module>.<step>)
STAGED_SPANS = {
    "_round_denied": "robots.denied",
    "_round_ranked": "politeness.rank",
    "crawl_results": "fetch.results",
    "miss_log": "fetch.miss_log",
    "_round_probed": "seen.probe",
    "bloom_state": "seen.insert",
    "frontier": "checkpoint.frontier",
    "url_seen": "checkpoint.url_seen",
    "errors": "checkpoint.errors",
    "partition_metrics": "checkpoint.partition_metrics",
}
# spans that also carry footer rows/bytes (they write parquet)
WRITE_SPANS = tuple(STAGED_SPANS.values())
# top-level maintenance commits outside the rounds (no footer counts)
MAINTENANCE_SPANS = ("checkpoint.compact", "driver.expire")
ROUND_SPAN = "driver.round"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    round: int | None
    start: float
    end: float = 0.0
    rows: int = 0
    bytes: int = 0
    tasks: int = 0
    group: str = ""
    prev_group: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


def footer_counts(files: list[str]) -> tuple[int, int]:
    """(rows, compressed bytes) summed over the parquet footers of
    ``files``."""
    rows = size = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        md = pq.read_metadata(path)
        rows += md.num_rows
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            size += sum(
                rg.column(j).total_compressed_size for j in range(rg.num_columns)
            )
    return rows, size


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._undo: list[tuple[type, str, object]] = []
        # the open top-level span (round, expire, compaction) — the
        # parent of every span opened while it runs, in any thread
        self._top: Span | None = None
        self.round: int | None = None
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- spans -------------------------------------------------------------

    def open(self, name: str, top: bool = False) -> Span:
        t0 = time.monotonic()
        span = Span(
            id=next(self._ids),
            name=name,
            parent=self._top.id if self._top is not None else None,
            round=self.round,
            start=time.monotonic(),
        )
        span.group = f"perfbench-span-{span.id}"
        span.prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(span.group, name)
        if top and self._top is None:
            self._top = span
        self._charge(t0)
        return span

    def close(self, span: Span) -> None:
        span.end = time.monotonic()
        self.sc.setLocalProperty("spark.jobGroup.id", span.prev_group)
        if self._top is span:
            self._top = None
        with self._lock:
            self.spans.append(span)
        self._charge(span.end)

    def _charge(self, since: float) -> None:
        dt = time.monotonic() - since
        with self._lock:
            self.self_s += dt

    def _wrap(self, cls: type, attr: str, name_of, top: bool = False,
              on_result=None) -> None:
        orig = getattr(cls, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(obj, *args, **kwargs):
            span = tracer.open(name_of(*args), top=top)
            try:
                out = orig(obj, *args, **kwargs)
            finally:
                tracer.close(span)
            if on_result is not None:
                t0 = time.monotonic()
                on_result(span, out)
                tracer._charge(t0)
            return out

        setattr(cls, attr, traced)
        self._undo.append((cls, attr, orig))

    def install(self) -> None:
        from distributed_crawl_spark.streaming.checkpoint import (
            CheckpointStore, Staging,
        )
        from distributed_crawl_spark.streaming.driver import CrawlDriver

        def staged(name, *_):
            return STAGED_SPANS.get(name, f"checkpoint.{name.lstrip('_')}")

        def footers(span, df):
            span.rows, span.bytes = footer_counts(df.inputFiles())

        for attr in ("write_replace", "write_append", "write_rewrite",
                     "write_scratch"):
            self._wrap(Staging, attr, staged, on_result=footers)
        self._wrap(Staging, "finalize", lambda *_: "checkpoint.commit")
        self._wrap(CheckpointStore, "compact", lambda *_: "checkpoint.compact",
                   top=True)
        self._wrap(CheckpointStore, "gc", lambda *_: "checkpoint.compact",
                   top=True)
        self._wrap(CrawlDriver, "expire", lambda *_: "driver.expire", top=True)

        orig_round = CrawlDriver.run_round
        tracer = self

        @functools.wraps(orig_round)
        def run_round(drv, round_no, *args, **kwargs):
            tracer.round = round_no
            span = tracer.open(ROUND_SPAN, top=True)
            try:
                return orig_round(drv, round_no, *args, **kwargs)
            finally:
                tracer.close(span)
                tracer.round = None

        CrawlDriver.run_round = run_round
        self._undo.append((CrawlDriver, "run_round", orig_round))

    def uninstall(self) -> None:
        while self._undo:
            cls, attr, orig = self._undo.pop()
            setattr(cls, attr, orig)

    # -- results -----------------------------------------------------------

    def resolve_tasks(self) -> None:
        """Fill ``tasks`` per span from the status tracker. Run once at the
        end: the status store is fed asynchronously by the listener bus."""
        tracker = self.sc.statusTracker()
        time.sleep(0.5)  # let the listener bus catch up
        for span in self.spans:
            n = 0
            for job_id in tracker.getJobIdsForGroup(span.group):
                job = tracker.getJobInfo(job_id)
                for stage_id in job.stageIds if job else ():
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None:
                        n += stage.numCompletedTasks
            span.tasks = n

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in sorted(self.spans, key=lambda s: s.start):
                row = asdict(span)
                row["wall"] = span.wall
                fh.write(json.dumps(row) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def round_floor(spans: list[Span]) -> list[dict]:
    """Per crawl round: wall, the union of its child spans, the residue
    (wall minus union: plan build, Observation reads, pointer IO) and the
    overlap (summed child walls minus union: what the fork-join ran in
    parallel). ``union + residue == wall`` holds by definition; it is an
    account of the round only if ``round_problems`` finds nothing."""
    out = []
    for rnd in (s for s in spans if s.name == ROUND_SPAN):
        kids = [s for s in spans if s.parent == rnd.id]
        union = union_length([(s.start, s.end) for s in kids])
        summed = sum(s.wall for s in kids)
        out.append({
            "round": rnd.round,
            "wall": rnd.wall,
            "spans_s": summed,
            "union_s": union,
            "residue_s": rnd.wall - union,
            "overlap_s": summed - union,
        })
    return out


def round_problems(spans: list[Span]) -> list[str]:
    """Spans attached to the wrong round: a span whose parent is a round
    must lie inside that round's interval and carry its round number, and
    a span lying inside a round must have that round as its parent.
    Catches parents mixed up across the fork-join threads, which would
    make the residue meaningless."""
    rounds = {s.id: s for s in spans if s.name == ROUND_SPAN}
    out = []
    for s in spans:
        if s.id in rounds:
            continue
        home = rounds.get(s.parent)
        inside = [r for r in rounds.values() if r.start <= s.start and s.end <= r.end]
        if home is not None and (
            not (home.start <= s.start and s.end <= home.end) or s.round != home.round
        ):
            out.append(f"span {s.name}#{s.id} lies outside its round {home.round}")
        elif home is None and inside:
            out.append(f"span {s.name}#{s.id} inside round {inside[0].round}"
                       " is not attached to it")
    return out
