"""Benchmark of the crawl engine and the curation rows built on it.

    python3 perfbench/run.py --workload crawl_mixed --seed 1 --seconds 10 --trace 0

Runs from the repository root. Starts one Spark session at
``local[<cores>]``, generates the workload's inputs from ``--seed``,
times the workload's public entry points for ``--seconds`` (at least one
pass), checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` installs the span wrappers, turns
on Spark's event log and reports the per-layer metrics instead.

All files go to ``.perfbench/`` under the repository root. See
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "companycatalogcrawlerparser_spark"

WORKLOADS = {
    # 2,000 companies from index seed*2000, 20% on one hot host, 5% with
    # 32 KiB of filler on every page
    "crawl_mixed": {"kind": "crawl", "companies": 2000, "heavy_pct": 5,
                    "filler_kb": 32},
    # documents / events / embeddings from one fixed generator seed
    "curation_suite": {"kind": "curation", "data_seed": 42},
}
COMMIT_TABLES = ("trace", "bag", "flags", "frontier_next", "url_seen", "blooms")


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


# -- environment -------------------------------------------------------------

def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical memory, 1-8 GiB: the JVM heap, its off-heap
    and the Python workers must all fit beside other tenants."""
    with open("/proc/meminfo") as fh:
        total_kb = int(re.search(r"MemTotal:\s+(\d+)", fh.read()).group(1))
    mb = total_kb // 1024 // 4
    return max(1024, min(8192, mb // 256 * 256))


def prepare_env(work: str) -> dict:
    """Environment for the session, set before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_DRIVER_MEMORY": f"{driver_memory_mb()}m",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GC_OPTS": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_HOT_PCT": "20",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None
    return env


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            m = re.search(field + r":\s+(\d+)", fh.read())
    except OSError:
        return 0
    return int(m.group(1)) if m else 0


def _descendants(pid: int) -> list:
    children: dict[int, list] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) jiffies summed over every CPU since boot, from
    /proc/stat: time a vCPU wanted to run while the hypervisor ran other
    guests, and time the vCPUs ran (user, nice, system, irq, softirq)."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(v) for v in fh.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq


class Clock:
    """Times a ``with`` block: ``wall_s``, ``stolen`` (the share of the CPU
    time the vCPUs wanted in the block that the hypervisor gave to other
    guests) and ``s``, the wall time with that share taken out — the time
    the block takes on a host whose hypervisor steals nothing. On a shared
    VM steal swung from 0 to 34% within an hour and stretched a crawl's
    wall time by up to 90%; ``s`` is the figure the benchmark reports."""

    def __enter__(self):
        self._ticks = cpu_ticks()
        self._t = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.monotonic() - self._t
        steal, busy = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        self.stolen = steal / (steal + busy) if steal + busy else 0.0
        self.s = self.wall_s * (1 - self.stolen)


class PeakRss:
    """Peak RSS over a ``with`` block, from the kernel's high-water marks
    (VmHWM), reset on entry: ``jvm_mb`` of the JVM, and ``workers_mb``,
    the sum over the Python workers it forked that are still alive at the
    end. Nothing samples during the block."""

    def __init__(self, pid: int):
        self.pid = pid
        self.jvm_mb = self.workers_mb = 0.0

    def __enter__(self):
        for pid in [self.pid] + _descendants(self.pid):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")  # resets VmHWM to the current RSS
            except OSError:
                pass  # then that process's peak covers its whole life
        return self

    def __exit__(self, *exc):
        self.jvm_mb = _status_kb(self.pid, "VmHWM") / 1024
        self.workers_mb = sum(
            _status_kb(p, "VmHWM") for p in _descendants(self.pid)) / 1024


def start_session(extra_conf: dict):
    from companycatalogcrawlerparser_spark.session import get_spark

    n = cores()
    # shuffle partitions as bench.py sizes them
    return get_spark("perfbench", master=f"local[{n}]",
                     shuffle_partitions=max(n, 8), extra_conf=extra_conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def machine_probe_s() -> float:
    """Engine-free control: a fixed pure-Python regex scan, to read drift
    of the machine itself across runs."""
    page = "".join(f'<a href="http://h{i % 97}.ru/p">x</a> filler filler '
                   for i in range(20_000))
    pat = re.compile(r"href=[\"']?(.*?)[\"'>]+")
    t = time.monotonic()
    for _ in range(10):
        pat.findall(page)
    return time.monotonic() - t


# -- checks ------------------------------------------------------------------

def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def compare_record(key: str, spec: dict, got, work: str, problems: list) -> None:
    """Same (workload, seed) must give the same outputs in every run in
    this checkout: the first run's record is kept and later ones compared."""
    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    tag = zlib.crc32(json.dumps(spec, sort_keys=True).encode())
    path = os.path.join(rec_dir, f"{key}-{tag:08x}.json")
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
        if prev != got:
            problems.append(f"{key}: output differs from an earlier run: "
                            f"{prev} != {got}")
    else:
        with open(path, "w") as fh:
            json.dump(got, fh)


# -- workloads ---------------------------------------------------------------

def setup_inputs(spec: dict, seed: int, run_dir: str) -> tuple[str, dict]:
    """Writes the workload's inputs; returns their directory and sizes."""
    import corpus

    out = os.path.join(run_dir, "input")
    if spec["kind"] == "crawl":
        n = spec["companies"]
        info = corpus.write_crawl_corpus(out, seed * n, n, spec["heavy_pct"],
                                         spec["filler_kb"])
    else:
        info = corpus.write_curation_tables(out, spec["data_seed"])
    return out, info


def run_crawl_workload(spark, spec, name, seed, seconds, tracer, input_dir,
                       run_dir, work, expected):
    import workloads as W

    n = cores()
    passes, problems, attempted = [], [], 0
    res = store = root = None
    t_measure = time.monotonic()
    while attempted == 0 or (not tracer and time.monotonic() - t_measure < seconds):
        attempted += 1
        store = os.path.join(run_dir, f"store-{attempted}")
        try:
            with Clock() as clock, PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
                dt, res, sums, root = W.time_crawl(spark, input_dir, store, n, tracer)
            passes.append({"s": dt * (1 - clock.stolen), "wall_s": dt,
                           "stolen": clock.stolen, "rss_mb": rss.jvm_mb,
                           "workers_mb": rss.workers_mb, "sums": sums})
        except Exception:
            traceback.print_exc()
            problems.append("crawl pass raised")
    if not passes:
        return attempted, problems, {}, None
    raised = len(problems)

    # untimed output checks, on the last pass
    t_checks = time.monotonic()
    rec = W.crawl_record(res)
    rec.update(passes[-1]["sums"])
    if any(p["sums"] != passes[0]["sums"] for p in passes):
        problems.append("passes of one run gave different emails/company_email")
    if rec["dequeued"] != rec["fetched"] + rec["errors"]:
        problems.append(f"dequeued {rec['dequeued']} != fetched + errors")
    viol = W.politeness_violations(res["trace"], W.crawl_config(n).delay_ms)
    if viol:
        problems.append(f"{viol} (round, host) pairs break politeness")
    key = f"{name}-{seed}"
    for k, v in expected.get(key, {}).items():
        if rec[k] != v:
            problems.append(f"{key}: {k} = {rec[k]}, expected {v}")
    compare_record(key, spec, rec, work, problems)
    print(f"# record {key}: {json.dumps(rec)}", flush=True)
    checks_s = time.monotonic() - t_checks

    layers = None
    if tracer:
        replays = W.crawl_replays(spark, input_dir, store, n)
        # the replay rebuilds round 1's frontier from the store; if it no
        # longer matches what the crawl dequeued, its timings are not the crawl's
        round1 = res["trace"].filter("round = 1").count()
        if replays["urlseen.out_rows"] != round1:
            problems.append(f"url-seen replay gives {replays['urlseen.out_rows']} "
                            f"round-1 urls, the crawl dequeued {round1}")
        layers = {"crawl_s": passes[-1]["wall_s"], "record": rec,
                  "workers_mb": passes[-1]["workers_mb"], "replays": replays,
                  "files": W.store_files(store), "root": root}
    metrics = {
        "run_s": statistics.median(p["s"] for p in passes),
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "stolen": statistics.median(p["stolen"] for p in passes),
        "peak_rss_mb": statistics.median(p["rss_mb"] for p in passes),
        "workers_peak_mb": statistics.median(p["workers_mb"] for p in passes),
        "pages_per_s": rec["fetched"] / statistics.median(p["s"] for p in passes),
        "checks_s": checks_s,
        "failed": raised + (len(passes) if len(problems) > raised else 0),
    }
    return attempted, problems, metrics, layers


def run_curation_workload(spark, spec, name, seconds, tracer, input_dir, work,
                          expected):
    import workloads as W

    passes, problems, attempted = [], [], 0
    t_measure = time.monotonic()
    while attempted == 0 or (not tracer and time.monotonic() - t_measure < seconds):
        attempted += 1
        try:
            with Clock() as clock, PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
                dt, per, sums = W.time_curation(spark, input_dir, tracer)
            passes.append({"s": dt * (1 - clock.stolen), "wall_s": dt,
                           "stolen": clock.stolen, "per": per, "rss_mb": rss.jvm_mb,
                           "workers_mb": rss.workers_mb, "sums": sums})
        except Exception:
            traceback.print_exc()
            problems.append("curation pass raised")
    if not passes:
        return attempted, problems, {}, None
    raised = len(problems)
    want = expected.get(name, {})
    for p in passes:
        for row, got in p["sums"].items():
            if row in want and got != want[row]:
                problems.append(f"{row}: rows/checksum {got}, expected {want[row]}")
            elif row not in want:
                problems.append(f"{row}: no recorded checksum (got {got})")
    compare_record(name, spec, passes[0]["sums"], work, problems)
    print(f"# record {name}: {json.dumps(passes[0]['sums'])}", flush=True)
    layers = None
    if tracer:
        layers = {"per": passes[-1]["per"], "suite_s": passes[-1]["wall_s"],
                  "workers_mb": passes[-1]["workers_mb"],
                  "kinds": W.curation_kinds(spark, input_dir)}
    metrics = {
        "run_s": statistics.median(p["s"] for p in passes),
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "stolen": statistics.median(p["stolen"] for p in passes),
        "peak_rss_mb": statistics.median(p["rss_mb"] for p in passes),
        "workers_peak_mb": statistics.median(p["workers_mb"] for p in passes),
        "rows_s": passes[-1]["per"],
        "failed": raised + (len(passes) if len(problems) > raised else 0),
    }
    return attempted, problems, metrics, layers


# -- per-layer metrics -------------------------------------------------------

def per_layer_names() -> list:
    from bench import FOLDED_KINDS

    import workloads as W

    names = ["crawl.jobs", "crawl.stages", "crawl.driver_self_s",
             "crawl.untagged_jobs", "crawl.span_cover_frac", "traced.run_s",
             "counters.wall_s", "counters.busy_s",
             "commit.wall_s", "commit.busy_s", "commit.files", "commit.mb"]
    for t in COMMIT_TABLES:
        names += [f"commit.{t}.wall_s", f"commit.{t}.busy_s",
                  f"commit.{t}.files", f"commit.{t}.mb"]
    names += ["robots.wall_s", "robots.busy_s", "redirects.wall_s",
              "fetch_extract.wall_s", "fetch_extract.busy_s",
              "fetch_extract.input_mb", "fetch_extract.task_skew",
              "fetch.ok_ratio", "fetch.pages", "frontier.dequeued",
              "seed_branch.wall_s", "seed_branch.busy_s", "seed_branch.shuffle_mb",
              "urlseen.in_rows", "urlseen.out_rows", "urlseen.filter_s",
              "urlseen.build_busy_s", "urlseen.load_s",
              "frontier.schedule_s", "frontier.max_host_rank", "frontier.salt_skew",
              "finalize.wall_s", "finalize.busy_s", "finalize.shuffle_mb",
              "spark.busy_s", "spark.gc_s", "spark.spill_mb", "spark.shuffle_mb",
              "python.workers_peak_mb"]
    for row in W.CURATION_ROWS:
        names += [f"query.{row}.s", f"query.{row}.busy_s"]
        if row in FOLDED_KINDS:
            names += [f"kind.{row}.{k}.s" for k in ["build"] + FOLDED_KINDS[row]]
    names += ["machine.probe_s", "machine.stolen_frac"]
    return names


def unit_of(metric: str) -> str:
    if metric.endswith("_s") or metric.endswith(".s"):
        return "s"
    if metric.endswith("_mb") or metric.endswith(".mb"):
        return "MB"
    if metric.endswith(("_skew", "_ratio", "_frac")):
        return "ratio"
    return "count"


def add_engine(out: dict, m: dict) -> None:
    """Adds one span's folded task metrics to the whole-pass totals."""
    for k, v in (("spark.busy_s", m["busy_ms"] / 1e3), ("spark.gc_s", m["gc_ms"] / 1e3),
                 ("spark.spill_mb", m["spill"] / 1e6),
                 ("spark.shuffle_mb", m["shuffle_write"] / 1e6)):
        out[k] = out.get(k, 0) + v


def crawl_layers(tracer, folded: dict, layers: dict) -> dict:
    from spans import layer_of, task_skew

    root = layers["root"]
    spans = tracer.spans
    fold = folded["spans"]
    out: dict = {}

    def add(key, v):
        out[key] = out.get(key, 0) + v

    top_wall: dict = {}
    for sp in tracer.children(root):
        layer = layer_of(sp["name"])
        top_wall[layer] = top_wall.get(layer, 0) + sp["end"] - sp["start"]
    best: dict = {}
    for sp in spans:
        top = tracer.top_of(sp, root)
        if top is None and sp is not root:
            continue
        m = fold.get(sp["id"])
        if m is None:
            continue
        layer = layer_of(top["name"]) if top else "crawl"
        add("crawl.jobs", m["jobs"])
        add("crawl.stages", m["stages"])
        add_engine(out, m)
        add(f"{layer}.busy_s", m["busy_ms"] / 1e3)
        add(f"{layer}.shuffle_mb", m["shuffle_write"] / 1e6)
        add(f"{layer}.input_mb", m["input"] / 1e6)
        if sp["name"].startswith("commit."):
            add(f"{sp['name']}.busy_s", m["busy_ms"] / 1e3)
            add(f"{sp['name']}.wall_s", sp["end"] - sp["start"])
        if m["busy_ms"] > best.get(layer, (0, None))[0]:
            best[layer] = (m["busy_ms"], m["top_stage_tasks"])
    for layer, wall in top_wall.items():
        out[f"{layer}.wall_s"] = wall
    crawl_s = layers["crawl_s"]
    covered = sum(top_wall.values())
    out["crawl.driver_self_s"] = crawl_s - covered
    out["crawl.span_cover_frac"] = covered / crawl_s
    out["urlseen.load_s"] = top_wall.get("urlseen.load", 0.0)
    out["crawl.untagged_jobs"] = folded["untagged_jobs"]
    out["traced.run_s"] = crawl_s
    out["fetch_extract.task_skew"] = task_skew(best.get("fetch_extract", (0, []))[1])
    rec = layers["record"]
    out["fetch.pages"] = rec["fetched"]
    out["frontier.dequeued"] = rec["dequeued"]
    out["fetch.ok_ratio"] = rec["fetched"] / rec["dequeued"]
    files, mb = 0, 0.0
    for t, (n, b) in layers["files"].items():
        out[f"commit.{t}.files"] = n
        out[f"commit.{t}.mb"] = b / 1e6
        files, mb = files + n, mb + b / 1e6
    out["commit.files"], out["commit.mb"] = files, mb
    out["urlseen.build_busy_s"] = out.get("commit.blooms.busy_s", 0.0)
    out.update(layers["replays"])
    return out


def curation_layers(tracer, folded: dict, layers: dict) -> dict:
    out = {f"query.{row}.s": s for row, s in layers["per"].items()}
    fold = folded["spans"]
    for sp in tracer.spans:
        m = fold.get(sp["id"])
        if m is None:
            continue
        top = tracer.outermost(sp)
        if not top["name"].startswith("query."):
            continue  # the kind timings after the timed pass
        key = f"{top['name']}.busy_s"
        out[key] = out.get(key, 0) + m["busy_ms"] / 1e3
        add_engine(out, m)
    out["traced.run_s"] = layers["suite_s"]
    out.update(layers["kinds"])
    return out


# -- main --------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        fail(f"no {PKG}/ next to {os.path.basename(HERE)}/: run from a checkout "
             "of the repository")
    os.chdir(ROOT)  # Python workers import the package from the cwd
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    env = prepare_env(run_dir)
    try:
        import pyspark  # noqa: F401

        import bench  # noqa: F401  (FOLDED_KINDS)
        import companycatalogcrawlerparser_spark.plans.crawl  # noqa: F401
    except ImportError as e:
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"cannot import the program: {e}")

    import spans as TR

    name, seed = args.workload, args.seed
    spec = WORKLOADS[name]
    expected = load_expected()
    log_dir = os.path.join(run_dir, "eventlog")
    extra = {}
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        extra = TR.event_log_conf(log_dir)

    spark = None
    try:
        with Clock() as setup:
            t0 = time.monotonic()
            spark = start_session(extra)
            session_s = time.monotonic() - t0
            input_dir, info = setup_inputs(spec, seed, run_dir)
        tracer = None
        if args.trace:
            tracer = TR.Tracer(spark)
            tracer.install()
        if spec["kind"] == "crawl":
            attempted, problems, metrics, layers = run_crawl_workload(
                spark, spec, name, seed, args.seconds, tracer, input_dir,
                run_dir, work, expected)
        else:
            attempted, problems, metrics, layers = run_curation_workload(
                spark, spec, name, args.seconds, tracer, input_dir, work, expected)
        if tracer:
            tracer.uninstall()
    finally:
        if spark is not None:
            stop_session(spark)

    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if not metrics:
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("no pass completed", 1)

    if args.trace:
        folded = TR.fold_event_log(log_dir)
        values = dict.fromkeys(per_layer_names(), 0)
        if spec["kind"] == "crawl":
            values.update(crawl_layers(tracer, folded, layers))
        else:
            values.update(curation_layers(tracer, folded, layers))
        values["python.workers_peak_mb"] = layers["workers_mb"]
        values["machine.probe_s"] = machine_probe_s()
        values["machine.stolen_frac"] = metrics["stolen"]
        values = {k: values[k] for k in per_layer_names()}
    else:
        values = {"run_s": metrics["run_s"], "setup_s": setup.s,
                  "peak_rss_mb": metrics["peak_rss_mb"]}
    shutil.rmtree(run_dir, ignore_errors=True)

    print("# config: " + json.dumps({
        "workload": name, "seed": seed, "cores": cores(), "inputs": info,
        "driver_memory": env["SPARK_DRIVER_MEMORY"], "session_s": session_s,
        "setup_wall_s": setup.wall_s, "setup_stolen": setup.stolen,
        "passes": attempted, "run_wall_s": metrics["wall_s"],
        "run_stolen": metrics["stolen"],
        "workers_peak_mb": metrics["workers_peak_mb"],
        "pages_per_s": metrics.get("pages_per_s"), "checks_s": metrics.get("checks_s"),
        "rows_s": metrics.get("rows_s")}), flush=True)
    failed = metrics["failed"]
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
