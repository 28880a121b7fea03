"""spark-frontier benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload crawl_polite --seed 0 --seconds 15 --trace 0

Run it from the repository root. Workloads: ``crawl_bulk``,
``crawl_polite``, ``query_battery`` (BENCHMARK.json says why each was
chosen; perfbench/LAYERS.md maps every metric to its layer and workload).
The package is driven only through ``CrawlDriver``, ``corpus``,
``functions.text`` and ``__spark_entry__.queries()``, in one process,
with a local Spark session of ``nproc`` cores and as many shuffle
partitions, as a closed loop with one client.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around every layer call and prints the per-layer
metrics instead (spans go to ``.bench_build/perfbench/trace/``). The last
stdout line is one JSON object: correct, attempted, failed, metrics.
Every other output file lives under ``.bench_build/`` in the working
directory: the pages corpus cache, seeds, checkpoints, Spark scratch.

``--workload crawl_bulk`` is bench.py's 2M-page crawl, run by hand (it
is not in BENCHMARK.json); at seed 0 it is checked against bench.py's
recorded counts. ``--record`` stores this run's output digests in
perfbench/expected.json as the values later runs must match.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
EXPECTED = HERE / "expected.json"
BATTERY_DATA = HERE / "data" / "sf0.01"
WORKLOADS = ("crawl_bulk", "crawl_polite", "query_battery")
BULK_PAGES = 2_000_000  # bench.py's crawl at sf0.1
POLITE_PAGES = 5_000
SETUPS = 3  # set-ups per run; setup_s reports their median
# Untimed iterations (a crawl, a battery pass) before the timed ones. The
# JVM compiles the hot paths during the first one: a first polite crawl
# takes ~25% more wall and ~45% more CPU than the second, and a long crawl
# or a query service pays that once, not per round. crawl_bulk's minutes
# of rounds dwarf it.
WARMUP = {"crawl_bulk": 0, "crawl_polite": 1, "query_battery": 1}
# Seconds of --seconds that one timed iteration stands for. A run does
# round(--seconds / ITERATION_S) timed iterations, at least one, so every
# run at the same --seconds does the same work in the same order, and a
# faster tree is not credited with extra, warmer iterations. On 4 cores a
# warm polite crawl takes 8-12 s of wall and a battery pass about 5 s; the
# polite figure is lower so that --seconds 15 takes the median of two
# crawls, as a single crawl's wall moves by ±20% from run to run.
ITERATION_S = {"crawl_bulk": 300.0, "crawl_polite": 7.5, "query_battery": 5.0}
TEXT_SAMPLE_DOCS = 2000


def iterations(args) -> int:
    return max(1, round(args.seconds / ITERATION_S[args.workload]))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true")
    return p.parse_args(argv)


class Run:
    """Shared state of one benchmark run."""

    def __init__(self, args, root: Path):
        self.args = args
        self.root = root
        self.work = root / ".bench_build" / "perfbench"
        self.spark = None
        self.session_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}  # contract metrics
        self.report: dict[str, tuple[float, str]] = {}  # everything, for people
        self.expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}

    def expect(self, *keys):
        node = self.expected
        for k in keys:
            node = node.get(str(k)) if isinstance(node, dict) else None
        return node

    def record(self, value, *keys):
        node = self.expected
        for k in keys[:-1]:
            node = node.setdefault(str(k), {})
        node[str(keys[-1])] = value


# --- environment --------------------------------------------------------------


def prepare_env(run: Run) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the working directory, and let the workers import the package."""
    tmp = run.work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(run.root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(tmp)
    # every JVM spark-submit starts (its launcher too): no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = str(run.work / "spark-local")
    sys.path.insert(0, str(run.root))


def build_spark(run: Run):
    from distributed_crawl_spark.session import build_session

    cores = len(os.sched_getaffinity(0))
    extra = {
        # bench.py's session default for its 2M-page crawl; 3g otherwise
        "spark.driver.memory": "8g" if run.args.workload == "crawl_bulk" else "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run.work / "warehouse"),
        # traced runs read job/stage info back at the end of the run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    t0 = time.monotonic()
    spark = build_session(app_name="perfbench", cores=cores,
                          shuffle_partitions=cores, extra_conf=extra)
    run.session_s = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    run.report["cores"] = (cores, "count")


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this process plus the Spark JVM."""

    def hwm(pid) -> int:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm("self") + hwm(jvm)) / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --- crawl workloads ------------------------------------------------------------


def crawl_workload(run: Run) -> None:
    from distributed_crawl_spark.config import CrawlConfig
    from distributed_crawl_spark.streaming.driver import CrawlDriver

    import crawls as C
    import tracer as T

    args, spark = run.args, run.spark
    if args.workload == "crawl_bulk":
        shape = C.bulk_shape(BULK_PAGES)
    else:
        shape = C.polite_shape(POLITE_PAGES)
    cache = run.work / "pages"
    cold_s = C.ensure_pages(spark, run.root, cache, shape)
    run.report["cold_build_s"] = (cold_s, "s")

    t0 = time.monotonic()
    inputs = run.work / "inputs" / (
        f"{args.workload}_{C.pages_key(run.root, shape)}_n{shape.n_seeds}_seed{args.seed}"
    )
    urls = C.ensure_urls(spark, run.root, cache, shape)
    if not (inputs / "_PERFBENCH_DONE").exists():  # inputs depend on the seed only
        C.write_seeds(urls, shape, args.seed, inputs / "seeds")
        if shape.robots:
            C.write_robots(shape, args.seed, inputs / "robots")
        (inputs / "_PERFBENCH_DONE").write_text("")
    run.report["inputs_s"] = (time.monotonic() - t0, "s")

    setups: list[float] = []

    def setup():
        """Corpus registration from the warm cache, inputs, start()."""
        i = len(setups)
        ckpt = run.work / "ckpt" / f"c{i}"
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.monotonic()
        pages = C.register_pages(spark, run.root, cache, shape, f"s{i}")
        seeds = spark.read.parquet(str(inputs / "seeds"))
        robots = spark.read.parquet(str(inputs / "robots")) if shape.robots else None
        drv = CrawlDriver(spark, pages, robots, CrawlConfig(**shape.cfg), str(ckpt))
        drv.start(seeds)
        setups.append(time.monotonic() - t0)
        return drv, pages, ckpt

    # every crawl sets up once; extra set-ups make up SETUPS samples
    for _ in range(SETUPS - WARMUP[args.workload] - iterations(args)):
        _, _, ckpt = setup()
        shutil.rmtree(ckpt, ignore_errors=True)

    def one_crawl(tracer=None) -> C.CrawlRun:
        drv, pages, ckpt = setup()
        if tracer is not None:
            tracer.install()
        try:
            out = C.run_rounds(spark, drv, shape)
        except Exception:
            out = C.CrawlRun(error=traceback.format_exc(limit=3))
        finally:
            if tracer is not None:
                tracer.uninstall()
        run.attempted += max(1, len(out.round_s))
        if out.error is None:
            t0 = time.monotonic()
            bad = check_crawl(run, shape, drv, pages, out)
            run.report["check_s"] = (time.monotonic() - t0, "s")
            if bad:
                run.problems.extend(bad)
                run.failed += len(out.round_s)
            run.report["ckpt_mb"] = (C.dir_mb(ckpt), "MB")
        else:
            run.problems.append(out.error)
            run.failed += 1
        shutil.rmtree(ckpt, ignore_errors=True)
        return out

    crawls = []
    for i in range(WARMUP[args.workload] + iterations(args)):
        c = one_crawl()
        if i >= WARMUP[args.workload] or c.error:
            crawls.append(c)
        if c.error:
            break
    # A traced run then adds a traced crawl and one more untraced crawl.
    # The end-to-end figures come from the first untraced crawls only; the
    # tracing overhead compares the traced crawl with the mean of its two
    # untraced neighbours, which cancels the warm-up trend.
    tracer = traced = None
    if args.trace and not crawls[-1].error:
        tracer = T.Tracer(spark)
        traced = one_crawl(tracer)
        neighbours_s = (crawls[-1].crawl_s + one_crawl().crawl_s) / 2

    ok = [c for c in crawls if c.error is None]
    crawl_s = C.median([c.crawl_s for c in ok])
    round_s = [r for c in ok for r in c.round_s]
    processed = C.median([c.processed for c in ok])
    setup_s = run.session_s + statistics.median(setups)
    rss = peak_rss_mb(spark)

    run.metrics.update({
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "work_s": (crawl_s, "s"),
        "work_cpu_s": (C.median([c.cpu_s for c in ok]), "s"),
    })
    run.report.update({
        "setup_s": (setup_s, "s"),
        "session_s": (run.session_s, "s"),
        "crawl_s": (crawl_s, "s"),
        "crawl_cpu_s": (C.median([c.cpu_s for c in ok]), "s"),
        "urls_per_s": (processed / crawl_s if crawl_s else 0.0, "1/s"),
        "round_s.p50": (C.median(round_s), "s"),
        "round_s.p90": (quantile(round_s, 0.9), "s"),
        "round_cpu_s.p50": (C.median([r for c in ok for r in c.round_cpu_s]), "s"),
        "peak_rss_mb": (rss, "MB"),
        "crawls": (len(crawls), "count"),
    })
    for i, t in enumerate(setups):
        run.report[f"setup{i}_s"] = (t, "s")
    for i, c in enumerate(crawls):
        run.report[f"crawl{i}_s"] = (c.crawl_s, "s")
        run.report[f"crawl{i}_cpu_s"] = (c.cpu_s, "s")
    if ok:
        last = ok[-1]
        run.report.update({
            "fetched": (last.fetched, "count"),
            "deduped": (last.deduped, "count"),
            "failed": (last.failed, "count"),
            "expired": (last.expired, "count"),
        })

    if traced is not None and traced.error is None:
        tracer.resolve_tasks()
        crawl_layers(run, tracer, traced, neighbours_s, shape, cache)


def check_crawl(run: Run, shape, drv, pages, out) -> list[str]:
    """Output checks, outside the timed section."""
    import crawls as C

    args = run.args
    got = C.digests(drv, pages)
    got.update(fetched=out.fetched, deduped=out.deduped, failed=out.failed)
    bad = []
    if got["text_mismatch"]:
        bad.append(f"{got['text_mismatch']} results differ from the corpus text")
    keys = (args.workload, shape.n_pages, args.seed)
    if args.record:
        run.record({k: v for k, v in got.items() if k != "text_mismatch"}, *keys)
    want = run.expect(*keys)
    if want is None:
        run.report["digest_recorded"] = (0, "count")
        return bad
    run.report["digest_recorded"] = (1, "count")
    for k, v in want.items():
        if got.get(k) != v:
            bad.append(f"{k}: got {got.get(k)!r}, recorded {v!r}")
    return bad


def text_microbench(cache_dir: Path, max_links: int) -> tuple[float, float]:
    """µs/doc of ``extract_text_and_hrefs`` and of ``resolve_links`` over
    the first TEXT_SAMPLE_DOCS pages of the corpus cache, one Python
    thread, median of three passes."""
    import pyarrow.parquet as pq

    from distributed_crawl_spark.functions.text import (
        extract_text_and_hrefs, resolve_links,
    )

    urls, htmls = [], []
    for f in sorted(cache_dir.glob("*.parquet")):
        t = pq.read_table(f, columns=["url", "html"])
        urls += t.column("url").to_pylist()
        htmls += t.column("html").to_pylist()
        if len(urls) >= TEXT_SAMPLE_DOCS:
            break
    urls, htmls = urls[:TEXT_SAMPLE_DOCS], htmls[:TEXT_SAMPLE_DOCS]
    tok, res = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        parsed = [extract_text_and_hrefs(h) for h in htmls]
        tok.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for u, (_, hrefs) in zip(urls, parsed):
            resolve_links(u, hrefs, max_links)
        res.append(time.perf_counter() - t0)
    n = len(urls)
    return statistics.median(tok) / n * 1e6, statistics.median(res) / n * 1e6


def crawl_layers(run: Run, tracer, traced, untraced_s: float, shape,
                 cache: Path) -> None:
    import crawls as C
    import tracer as T
    from distributed_crawl_spark.config import CrawlConfig

    spans = tracer.spans
    rounds = {s.id for s in spans if s.name == T.ROUND_SPAN}
    m = run.metrics

    def own(name):
        """The rounds' own calls; those inside expire/compact count there."""
        return [s for s in spans if s.name == name and s.parent in rounds]

    for name in T.WRITE_SPANS:
        mine = own(name)
        m[f"{name}.s"] = (sum(s.wall for s in mine), "s")
        m[f"{name}.rows"] = (sum(s.rows for s in mine), "count")
        m[f"{name}.mb"] = (sum(s.bytes for s in mine) / 1e6, "MB")
        m[f"{name}.tasks"] = (sum(s.tasks for s in mine), "count")
    m["checkpoint.commit.s"] = (sum(s.wall for s in own("checkpoint.commit")), "s")
    for name in T.MAINTENANCE_SPANS:
        ids = {s.id for s in spans if s.name == name}
        m[f"{name}.s"] = (sum(s.wall for s in spans if s.id in ids), "s")
        # tasks of the call and of the writes nested in it
        m[f"{name}.tasks"] = (
            sum(s.tasks for s in spans if s.id in ids or s.parent in ids), "count"
        )
    # the residue accounts for a round's wall only if every span of the
    # round lies inside it and none outside it claims it
    run.problems.extend(T.round_problems(spans))
    floor = T.round_floor(spans)
    m["driver.residue.s"] = (sum(r["residue_s"] for r in floor), "s")
    m["driver.overlap_s"] = (sum(r["overlap_s"] for r in floor), "s")
    for r in floor:
        run.report[f"round{r['round']}.wall_s"] = (r["wall"], "s")
        run.report[f"round{r['round']}.spans_s"] = (r["spans_s"], "s")
        run.report[f"round{r['round']}.residue_s"] = (r["residue_s"], "s")
        run.report[f"round{r['round']}.overlap_s"] = (r["overlap_s"], "s")

    sel = fetched = deferred = new = cand = 0
    for s in traced.stats:
        n_miss = s.frontier_size - s.deferred_by_politeness - s.new_frontier + s.failed
        sel += s.fetched + n_miss
        fetched += s.fetched
        deferred += s.deferred_by_politeness
        new += s.urls_seen
        cand += s.urls_seen + s.deduped
    m["politeness.selected_ratio"] = (sel / (sel + deferred) if sel + deferred else 0.0, "ratio")
    m["fetch.hit_ratio"] = (fetched / sel if sel else 0.0, "ratio")
    m["seen.new_ratio"] = (new / cand if cand else 0.0, "ratio")

    tok, res = text_microbench(
        cache / C.pages_key(run.root, shape), CrawlConfig(**shape.cfg).max_links
    )
    m["text.tokenize_us_per_doc"] = (tok, "us")
    m["text.resolve_us_per_doc"] = (res, "us")
    # traced minus untraced crawl wall in the same run; trace.self_s is the
    # part spent in the tracer's own bookkeeping (job groups, footer reads)
    m["trace.overhead_s"] = (traced.crawl_s - untraced_s, "s")
    run.report["untraced_crawl_s"] = (untraced_s, "s")
    m["trace.self_s"] = (tracer.self_s, "s")
    run.report["traced_crawl_s"] = (traced.crawl_s, "s")
    m["ckpt_mb"] = run.report.get("ckpt_mb", (0.0, "MB"))
    write_spans(run, tracer)


def write_spans(run: Run, tracer) -> None:
    out = run.work / "trace"
    out.mkdir(parents=True, exist_ok=True)
    tracer.dump(str(out / f"{run.args.workload}-seed{run.args.seed}.jsonl"))


# --- query battery ----------------------------------------------------------------


def battery_workload(run: Run) -> None:
    from pyspark.sql import Observation

    import battery as B
    import tracer as T
    from crawls import tree_cpu_s

    import __spark_entry__ as entry

    args, spark = run.args, run.spark
    data = str(BATTERY_DATA)
    qs = entry.queries()
    order = list(B.QUERIES)
    random.Random(args.seed).shuffle(order)

    # check pass, untimed: each query once with its output digest riding
    # the noop write as an Observation. It also warms every plan, so the
    # timed passes below do not depend on which query happens to run first.
    t0 = time.monotonic()
    wrong = set()
    for q in order:
        obs = Observation()
        try:
            df = qs[q](spark, data)
            df.observe(obs, *B.digest_exprs(df)).write.format("noop") \
                .mode("overwrite").save()
            problem = check_query(run, q, B.digest_value(obs.get))
        except Exception:
            problem = traceback.format_exc(limit=3)
        if problem:
            wrong.add(q)
            run.problems.append(f"{q}: {problem}")
    run.report["check_s"] = (time.monotonic() - t0, "s")

    def one_pass(tracer=None) -> dict[str, tuple[float, float]]:
        """Every query once: (wall, CPU seconds) per query."""
        out = {}
        for q in order:
            span = tracer.open(f"battery.{B.QUERIES[q]}") if tracer else None
            c0 = tree_cpu_s()
            t0 = time.monotonic()
            try:
                qs[q](spark, data).write.format("noop").mode("overwrite").save()
                ok = q not in wrong
            except Exception:
                run.problems.append(f"{q}: {traceback.format_exc(limit=3)}")
                ok = False
            out[q] = (time.monotonic() - t0, tree_cpu_s() - c0)
            if span is not None:
                tracer.close(span)
            run.attempted += 1
            run.failed += 0 if ok else 1
        return out

    for _ in range(WARMUP[args.workload]):
        one_pass()
    passes = [one_pass() for _ in range(iterations(args))]

    # per query, the median over the timed passes
    per_query = {q: statistics.median(p[q][0] for p in passes) for q in order}
    per_query_cpu = {q: statistics.median(p[q][1] for p in passes) for q in order}
    cpu_s = sum(per_query_cpu.values())
    battery_s = sum(per_query.values())
    rss = peak_rss_mb(spark)
    run.metrics.update({
        "setup_s": (run.session_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "work_s": (battery_s, "s"),
        "work_cpu_s": (cpu_s, "s"),
    })
    run.report.update({
        "setup_s": (run.session_s, "s"),
        "battery_s": (battery_s, "s"),
        "query_s.p50": (statistics.median(per_query.values()), "s"),
        "query_s.p90": (quantile(list(per_query.values()), 0.9), "s"),
        "battery_cpu_s": (cpu_s, "s"),
        "query_cpu_s.p50": (statistics.median(per_query_cpu.values()), "s"),
        "peak_rss_mb": (rss, "MB"),
        "queries": (len(order), "count"),
        "passes": (len(passes), "count"),
    })

    def pass_s(p):
        return sum(w for w, _ in p.values())

    for i, p in enumerate(passes):
        run.report[f"pass{i}_s"] = (pass_s(p), "s")
        run.report[f"pass{i}_cpu_s"] = (sum(c for _, c in p.values()), "s")
    for q in order:
        run.report[f"query.{q}"] = (per_query[q], "s")

    if args.trace:
        # a traced pass between two untraced ones, as for the crawls
        tracer = T.Tracer(spark)
        traced_s = pass_s(one_pass(tracer))
        untraced_s = (pass_s(passes[-1]) + pass_s(one_pass())) / 2
        tracer.resolve_tasks()
        m = run.metrics
        for mod in sorted(set(B.QUERIES.values())):
            mine = [s for s in tracer.spans if s.name == f"battery.{mod}"]
            m[f"battery.{mod}.s"] = (sum(s.wall for s in mine), "s")
            m[f"battery.{mod}.tasks"] = (sum(s.tasks for s in mine), "count")
        m["trace.overhead_s"] = (traced_s - untraced_s, "s")
        m["trace.self_s"] = (tracer.self_s, "s")
        run.report["traced_pass_s"] = (traced_s, "s")
        run.report["untraced_pass_s"] = (untraced_s, "s")
        write_spans(run, tracer)


def check_query(run: Run, q: str, got: dict) -> str | None:
    if run.args.record:
        run.record(got, "query_battery", q)
    want = run.expect("query_battery", q)
    if want is None:
        return "no recorded digest"
    if want != got:
        return f"got {got}, recorded {want}"
    return None


# --- output -------------------------------------------------------------------------


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (0 for an empty list)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def emit(run: Run) -> dict:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    wanted = [m["name"] for m in spec["per_layer" if run.args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics = {}
    for name in wanted:
        value, _ = run.metrics.get(name, (0.0, units[name]))
        metrics[name] = {"value": value, "unit": units[name]}
    print(f"# perfbench {run.args.workload} seed={run.args.seed} trace={run.args.trace}")
    for name, (value, unit) in run.report.items():
        print(f"#   {name:<28} {value:>16.6f} {unit}" if isinstance(value, float)
              else f"#   {name:<28} {value:>16} {unit}")
    error_rate = run.failed / run.attempted if run.attempted else 1.0
    print(f"#   {'error_rate':<28} {error_rate:>16.6f} ratio")
    for p in run.problems:
        print("# problem: " + " | ".join(p.strip().splitlines()))
    return {
        "correct": not run.problems and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "distributed_crawl_spark" / "__init__.py").is_file() \
            or not (root / "__spark_entry__.py").is_file():
        print("perfbench: run from the repository root (package not found)",
              file=sys.stderr)
        return 2
    run = Run(args, root)
    prepare_env(run)
    build_spark(run)
    try:
        if args.workload == "query_battery":
            battery_workload(run)
        else:
            crawl_workload(run)
    finally:
        stop_spark(run.spark)
    if args.record:
        EXPECTED.write_text(json.dumps(run.expected, indent=1, sort_keys=True) + "\n")
    result = emit(run)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
