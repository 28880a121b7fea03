"""The two crawl workloads: ``crawl_bulk`` and ``crawl_polite``.

Inputs (pages corpus, seeds, robots table) are generated here from the
workload seed and handed to the package; the package is driven only
through ``CrawlDriver`` and ``corpus``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np


@dataclass(frozen=True)
class CrawlShape:
    n_pages: int
    n_seeds: int
    rounds: int
    cfg: dict
    robots: bool = False
    buckets: int = 64  # url buckets of the pages table (bench.py: 64)
    expire_every: int | None = None  # a forget-mode expire() commit every k rounds
    ttl_rounds: int = 1

    @property
    def n_hosts(self) -> int:
        return max(16, self.n_pages // 200)  # corpus.scaled_pages default


def bulk_shape(n_pages: int) -> CrawlShape:
    """bench.py's crawl: seeds = n_pages // 5, 3 rounds, the run_crawl
    config."""
    return CrawlShape(
        n_pages=n_pages,
        n_seeds=max(1000, n_pages // 5),
        rounds=3,
        cfg=dict(
            max_levels=3, host_budget=1024, salt_threshold=2000, max_rounds=3,
            use_bloom=True, fetch_join_strategy="shuffle",
        ),
    )


def polite_shape(n_pages: int) -> CrawlShape:
    """A politeness-bound round: a per-host budget of 8 defers most of the
    seed frontier, every host has robots rules (a share of them with a
    Crawl-delay honoured), compaction fires after the round and a
    forget-mode expire commit follows it."""
    return CrawlShape(
        n_pages=n_pages,
        n_seeds=max(1000, n_pages // 5),
        rounds=1,
        cfg=dict(
            max_levels=3, host_budget=8, salt_threshold=2000, max_rounds=1,
            use_bloom=True, honor_crawl_delay=True, compact_every=1,
            bloom_buckets=4,
        ),
        robots=True,
        buckets=4,
        expire_every=1,
        ttl_rounds=0,
    )


# --- inputs -----------------------------------------------------------------


def pages_key(root: Path, shape: CrawlShape) -> str:
    """Cache key of the pages corpus: its size, its host count and the
    source of the code that generates it (the generator and the extractor
    that fills its ``text`` column), so a generator change never reuses a
    stale corpus."""
    h = hashlib.sha256()
    for rel in ("distributed_crawl_spark/corpus.py",
                "distributed_crawl_spark/functions/text.py"):
        h.update((root / rel).read_bytes())
    return (f"pages_{shape.n_pages}_h{shape.n_hosts}_b{shape.buckets}_"
            f"{h.hexdigest()[:12]}")


def ensure_pages(spark, root: Path, cache: Path, shape: CrawlShape) -> float:
    """Build the bucketed pages corpus once per key. Returns the cold build
    seconds (0.0 on a warm cache)."""
    from distributed_crawl_spark import corpus

    name = pages_key(root, shape)
    path = cache / name
    if (path / "_PERFBENCH_DONE").exists():
        return 0.0
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.monotonic()
    (
        corpus.scaled_pages(spark, shape.n_pages, shape.n_hosts)
        .repartition(shape.buckets, "url")
        .write.format("parquet")
        .bucketBy(shape.buckets, "url")
        .sortBy("url")
        .option("path", str(path))
        .saveAsTable(f"{name}_build")
    )
    (path / "_PERFBENCH_DONE").write_text("")
    return time.monotonic() - t0


def register_pages(spark, root: Path, cache: Path, shape: CrawlShape, tag: str):
    name = f"{pages_key(root, shape)}_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (url STRING, warc_ts TIMESTAMP, html BINARY,"
        f" text STRING, lang STRING) USING PARQUET"
        f" CLUSTERED BY (url) SORTED BY (url) INTO {shape.buckets} BUCKETS"
        f" LOCATION '{cache / pages_key(root, shape)}'"
    )
    return spark.table(name)


def seed_order(shape: CrawlShape, seed: int) -> np.ndarray:
    """Page ids that seed the crawl, in FIFO order. Seed 0 is bench.py's
    list (the first ``n_seeds`` ids); any other seed draws ``n_seeds``
    distinct ids in a random order."""
    if seed == 0:
        return np.arange(shape.n_seeds, dtype=np.int64)
    rng = np.random.RandomState(seed)
    return rng.choice(shape.n_pages, shape.n_seeds, replace=False).astype(np.int64)


def ensure_urls(spark, root: Path, cache: Path, shape: CrawlShape) -> Path:
    """Every page's url by page id (``corpus.scaled_seeds`` over the whole
    corpus), built once per corpus key; the seeds of any workload seed are
    a selection from it."""
    from distributed_crawl_spark import corpus

    path = cache / f"{pages_key(root, shape)}.urls"
    if not (path / "_PERFBENCH_DONE").exists():
        shutil.rmtree(path, ignore_errors=True)
        corpus.scaled_seeds(
            spark, shape.n_pages, shape.n_pages, shape.n_hosts
        ).select("url", "seq").orderBy("seq").coalesce(1).write.parquet(str(path))
        (path / "_PERFBENCH_DONE").write_text("")
    return path


def write_seeds(urls: Path, shape: CrawlShape, seed: int, path: Path) -> None:
    """The seeds table (url, seq, unique_id) in FIFO order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    by_id = pq.read_table(urls).sort_by("seq").column("url")
    ids = seed_order(shape, seed)
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({
            "url": by_id.take(pa.array(ids)),
            "seq": pa.array(np.arange(len(ids)), pa.int64()),
            "unique_id": pa.nulls(len(ids), pa.string()),
        }),
        path / "seeds.parquet",
    )


def robots_rows(shape: CrawlShape, seed: int) -> list[tuple]:
    """One robots.txt per host: one or two Disallow prefixes of the corpus'
    ``/p/<id>`` paths, and on about a third of the hosts a Crawl-delay
    (some shorter and some longer than the 60 s round window)."""
    rng = np.random.RandomState(10_000 + seed)
    rows = []
    for h in range(shape.n_hosts):
        lines = ["User-agent: *"]
        for d in rng.choice(np.arange(1, 10), rng.randint(1, 3), replace=False):
            lines.append(f"Disallow: /p/{d}{rng.randint(0, 10)}")
        delay = None
        if rng.rand() < 0.35:
            delay = str(int(rng.choice([5, 20, 45, 90, 150])))
            lines.append(f"Crawl-delay: {delay}")
        rows.append((f"host{h:05d}.test", "\n".join(lines) + "\n", delay))
    return rows


def write_robots(shape: CrawlShape, seed: int, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    hosts, txts, delays = zip(*robots_rows(shape, seed))
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"host": hosts, "robots_txt": txts, "crawl_delay": delays}),
        path / "robots.parquet",
    )


# --- one crawl ----------------------------------------------------------------


@dataclass
class CrawlRun:
    crawl_s: float = 0.0
    cpu_s: float = 0.0
    round_s: list[float] = field(default_factory=list)
    round_cpu_s: list[float] = field(default_factory=list)
    fetched: int = 0
    deduped: int = 0
    failed: int = 0
    expired: int = 0
    stats: list = field(default_factory=list)
    error: str | None = None

    @property
    def processed(self) -> int:
        return self.fetched + self.deduped + self.failed


def run_rounds(spark, drv, shape: CrawlShape) -> CrawlRun:
    """The fetch rounds, driven one ``run_round`` at a time so expire
    commits can follow them. Compaction follows ``CrawlDriver.run``: after
    every ``compact_every``-th round, ``compact()`` then ``gc()``; its wall
    counts into that round. After every ``expire_every``-th round comes a
    forget-mode ``expire(ttl_rounds)`` commit."""
    out = CrawlRun()
    k = drv.cfg.compact_every
    cpu0 = tree_cpu_s()
    t_start = time.monotonic()
    for r in range(shape.rounds):
        c0 = tree_cpu_s()
        t0 = time.monotonic()
        stats = drv.run_round(r)
        if k is not None and (r + 1) % k == 0:
            drv.store.compact(spark)
            drv.store.gc()
        out.round_s.append(time.monotonic() - t0)
        out.round_cpu_s.append(tree_cpu_s() - c0)
        out.stats.append(stats)
        if shape.expire_every and (r + 1) % shape.expire_every == 0:
            out.expired += drv.expire(shape.ttl_rounds, requeue=False)
        if stats.frontier_size == 0:
            break
    out.crawl_s = time.monotonic() - t_start
    out.cpu_s = tree_cpu_s() - cpu0
    out.fetched = sum(s.fetched for s in out.stats)
    out.deduped = sum(s.deduped for s in out.stats)
    out.failed = sum(s.failed for s in out.stats)
    return out


def digests(drv, pages) -> dict:
    """Order-insensitive digests of the crawl's outputs plus the
    extracted-text identity check, in three Spark jobs:

    - ``seen``: count and 128-bit sum of xxhash64 over the url_seen set;
    - ``results``: the same over ``crawl_results(url, md_hash)``;
    - ``text_mismatch``: distinct (url, text) results that no corpus page
      with that url has, i.e. text that differs from what the corpus
      generator extracted (must be 0). The corpus can hold two pages with
      one url, so a result must match one of them, not each.
    """
    from pyspark.sql import functions as F

    def digest(df, *cols):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).first()
        return f"{row['n']}:{row['h']}"

    results = drv.results()
    texts = results.select("url", F.xxhash64("text").alias("t")).distinct()
    ref = pages.select("url", F.xxhash64("text").alias("t"))
    return {
        "seen": digest(drv.seen_set(), "url"),
        "results": digest(results, "url", "md_hash"),
        "text_mismatch": texts.join(ref, ["url", "t"], "left_anti").count(),
    }


def dir_mb(path: Path) -> float:
    """Bytes of the durable checkpoint (round-local scratch excluded)."""
    total = 0
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != "_scratch"]
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every process under it
    (the Spark JVM and its Python workers), reaped children included."""
    ticks = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15])
    me = os.getpid()
    total = 0
    for pid, t in cpu.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += t
    return total / ticks
