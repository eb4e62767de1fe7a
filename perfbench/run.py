"""Benchmark runner for rasterio_spark.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 20 --trace 0

One process, one ``local[nproc]`` Spark session, one closed-loop client:
job k+1 starts only after job k has finished and been checked. Inputs
come only from ``--seed``. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the full run record (provenance, error rate, tail
latency); records and span files also go to ``.perfbench_out/``.
Everything the run writes lives under the checkout root; its scratch
directory is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import warnings
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import rasterio_spark  # noqa: E402,F401  fails fast outside a full checkout

SCRATCH = os.path.join(ROOT, ".perfbench_scratch")
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_ROUNDS = 3
# 2 of the host's 15 GB (the package's session default is 16g), leaving
# room for the Python workers and other tenants. The heap starts at its
# full size: left to grow, its growth made the JVM's peak RSS vary 10-18%
# between runs
DRIVER_MEMORY = "2g"
# no job starts later than this after process start (the run must end
# within 180 s)
DEADLINE_S = 140.0
# a job during which the hypervisor stole at least this share of the
# host's CPU ticks is "disturbed": on a shared 4-vCPU host a 5-10% steal
# burst made spatial_join jobs 30-45% slower (stage barriers and the
# Python worker pipes amplify it), so it measures the neighbours, not the
# program. Latency statistics use the undisturbed jobs of each kind, or
# the MIN_CLEAN least disturbed ones when fewer are undisturbed.
STEAL_LIMIT = 0.03
MIN_CLEAN = 5

SUFFIX_UNITS = {
    "call_s": "s",
    "action_s": "s",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_fetch_wait_s": "s",
    "spill_bytes": "bytes",
    "jobs": "count",
    "failed_tasks": "count",
}
EXTRA_UNITS = {
    "operators.join.pip_join.call_jobs": "count",
    "operators.join.pip_join.refine_accept_ratio": "ratio",
    "operators.join.knn_join.candidate_ratio": "ratio",
    "operators.dedup.dedup_groups.verified_pair_ratio": "ratio",
    "plans.cache.storage_held_bytes": "bytes",
    "plans.lineage.checkpointed_write.bytes_written": "bytes",
    "plans.lineage.checkpointed_write.resume_skip_ratio": "ratio",
    "plans.session.idle_core_s": "core-s",
    "perfbench.trace_overhead_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier (self-test)")
    p.add_argument("--perturb", action="store_true", help="drop one joined row (self-test)")
    return p.parse_args(argv)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def clean_orphans() -> None:
    """Remove scratch dirs of runs whose process is gone (a killed run
    leaves its warehouse and lineage outputs behind)."""
    if not os.path.isdir(SCRATCH):
        return
    for entry in os.listdir(SCRATCH):
        pid = entry.removeprefix("run-")
        if pid.isdigit() and not _pid_alive(int(pid)):
            shutil.rmtree(os.path.join(SCRATCH, entry), ignore_errors=True)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of all CPU ticks between two readings that the hypervisor
    gave to other guests (steal)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1])


def _git(*args: str) -> str:
    try:
        r = subprocess.run(["git", "-C", ROOT, *args], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


class Context:
    """What a workload may use: the session, the seed, run options, and
    persist hygiene between jobs."""

    def __init__(self, spark, args):
        from spans import NullTracer

        self.spark = spark
        self.seed = args.seed
        self.scale = args.scale
        self.perturb = args.perturb
        self.null_tracer = NullTracer()

    def storage_held_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    def hygiene(self, tr) -> None:
        """Release what the last job persisted, recording what was held."""
        from rasterio_spark.plans.cache import release_persisted

        held = self.storage_held_bytes() if tr.enabled else 0
        with tr.span("plans.cache.release_persisted", "call") as rec:
            release_persisted()
            rec["storage_held_bytes"] = held
        self.spark.catalog.clearCache()


def start_session(run_dir: str, cores: int):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    from rasterio_spark.plans.session import get_session

    return get_session(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python workers
    it forked) has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_loop(wl, ctx, tr, seconds: float, first_k: int, t_start: float) -> dict:
    """Closed loop: run, time and check jobs until ``seconds`` of job time.
    Workloads that alternate job kinds (``cycle``) end on a whole cycle."""
    times, rows, ok_flags, kinds, steal = [], [], [], [], []
    k = first_k
    while (sum(times) < seconds or (k - first_k) % wl.cycle) and time.perf_counter() - t_start < DEADLINE_S:
        wl.prepare(k)
        ticks = _cpu_ticks()
        with tr.span("job", "job") as rec:
            t0 = time.perf_counter()
            try:
                n, out = wl.job(k, tr)
            except Exception:
                traceback.print_exc()
                n, out = 0, None
            dt = time.perf_counter() - t0
            rec["job_s"] = dt
        steal.append(_steal_share(ticks, _cpu_ticks()))
        ok = False
        if out is not None:
            try:
                ok = bool(wl.check(k, out))
            except Exception:
                traceback.print_exc()
        if not ok:
            print(f"perfbench: job {k} of {wl.name} failed or gave a wrong output", file=sys.stderr)
        wl.after(k)
        ctx.hygiene(tr)
        times.append(dt)
        rows.append(n)
        ok_flags.append(ok)
        kinds.append(wl.kind(k))
        k += 1
    return {"times": times, "rows": rows, "ok": ok_flags, "kinds": kinds, "steal": steal, "next_k": k}


def run_probe_jobs(wl, ctx, tr) -> dict:
    """Traced runs only: one untimed warm-up and one traced job of each of
    the workload's ``probe_kinds``."""
    times, ok_flags = [], []
    for i, kind in enumerate(wl.probe_kinds):
        try:
            wl.probe_job(kind, -50 - 2 * i, ctx.null_tracer)  # warm-up
        except Exception:
            traceback.print_exc()
        ctx.hygiene(ctx.null_tracer)
        with tr.span(f"probe_job:{kind}", "probe_job"):
            t0 = time.perf_counter()
            try:
                ok = wl.probe_job(kind, -49 - 2 * i, tr)
            except Exception:
                traceback.print_exc()
                ok = False
            times.append(time.perf_counter() - t0)
        if not ok:
            print(f"perfbench: {kind} probe job of {wl.name} failed or gave a wrong output", file=sys.stderr)
        ctx.hygiene(tr)
        ok_flags.append(ok)
    return {"times": times, "ok": ok_flags}


def typical_job(loop: dict) -> tuple[float, float, int]:
    """(median job time, rows per second, jobs left out as disturbed) of
    a run. Each job kind's median is taken over its undisturbed jobs (see
    STEAL_LIMIT), and a workload with several kinds weighs them equally:
    the median of the pooled times would fall in the gap between the
    kinds' modes and swing with their edges."""
    by_kind = defaultdict(list)
    for kind, n, t, st in zip(loop["kinds"], loop["rows"], loop["times"], loop["steal"]):
        by_kind[kind].append((st, n, t))
    rows = secs = 0.0
    left_out = 0
    for jobs in by_kind.values():
        kept = [j for j in jobs if j[0] < STEAL_LIMIT]
        if len(kept) < MIN_CLEAN:
            kept = sorted(jobs)[:MIN_CLEAN]
        left_out += len(jobs) - len(kept)
        rows += statistics.median(n for _, n, _ in kept)
        secs += statistics.median(t for _, _, t in kept)
    return secs / len(by_kind), rows / secs, left_out


def tail(times: list[float]) -> dict | None:
    """Highest percentile with at least 10 samples beyond it."""
    n = len(times)
    if n < 20:
        return None
    pct = int(100 * (1 - 10 / n))
    return {"percentile": pct, "samples": n, "value_s": statistics.quantiles(times, n=100)[pct - 1]}


def layer_metrics(spans: list[dict], cores: int, untraced_p50: float) -> dict:
    from spans import STAGE_FIELDS
    from workloads import GROUPS, KNN, LAYER_CALLS, LSH_CANDIDATES, LSH_VERIFIED, PIP, RELEASE, WRITE

    # a layer's metrics come from the workload's own jobs when they reach
    # it, else from the traced-only probe jobs
    parent = {s["id"]: s["parent"] for s in spans}
    kind = {s["id"]: s["kind"] for s in spans}

    def root_kind(sid):
        while parent[sid] is not None:
            sid = parent[sid]
        return kind[sid]

    own, probed = defaultdict(list), defaultdict(list)
    for s in spans:
        (probed if root_kind(s["id"]) == "probe_job" else own)[s["name"]].append(s)
    by_name = {name: own.get(name) or probed.get(name, []) for name in set(own) | set(probed)}

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    def total(ss, key):
        return sum(s.get(key, 0.0) for s in ss)

    m = {}
    for name in LAYER_CALLS:
        ss = by_name.get(name, [])
        calls = [s for s in ss if s["kind"] == "call"]
        n = len(calls)
        m[f"{name}.call_s"] = ratio(total(calls, "dur_s"), n)
        m[f"{name}.action_s"] = ratio(total([s for s in ss if s["kind"] != "call"], "dur_s"), n)
        for f in STAGE_FIELDS + ("jobs",):
            m[f"{name}.{f}"] = ratio(total(ss, f), n)
    pip = by_name.get(PIP, [])
    pip_calls = [s for s in pip if s["kind"] == "call"]
    m[f"{PIP}.call_jobs"] = ratio(total(pip_calls, "jobs"), len(pip_calls))
    m[f"{PIP}.refine_accept_ratio"] = ratio(total(pip, "refine_rows_out"), total(pip, "refine_rows_in"))
    knn = by_name.get(KNN, [])
    m[f"{KNN}.candidate_ratio"] = ratio(total(knn, "ranked_rows"), total(knn, "ranked_capacity"))
    m[f"{GROUPS}.verified_pair_ratio"] = ratio(
        total(by_name.get(LSH_VERIFIED, []), "value"), total(by_name.get(LSH_CANDIDATES, []), "value")
    )
    rel = by_name.get(RELEASE, [])
    m["plans.cache.storage_held_bytes"] = ratio(total(rel, "storage_held_bytes"), len(rel))
    writes = [s for s in by_name.get(WRITE, []) if "bytes_written" in s]
    m[f"{WRITE}.bytes_written"] = ratio(total(writes, "bytes_written"), len(writes))
    m[f"{WRITE}.resume_skip_ratio"] = ratio(total(writes, "resume_skipped"), total(writes, "resume_partitions"))

    # per job: the job's own span and its children, probes excluded
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    idle, traced = [], []
    for job in (s for s in spans if s["kind"] == "job"):
        kids = children[job["id"]]
        probe_s = total([s for s in kids if s["kind"] == "probe"], "dur_s")
        busy = job["executor_run_s"] + total([s for s in kids if s["kind"] != "probe"], "executor_run_s")
        wall = job["job_s"] - probe_s
        idle.append(cores * wall - busy)
        traced.append(wall)
    m["plans.session.idle_core_s"] = statistics.fmean(idle) if idle else 0.0
    m["perfbench.trace_overhead_s"] = statistics.median(traced) - untraced_p50 if traced else 0.0
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    warnings.simplefilter("ignore")
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    clean_orphans()
    run_dir = os.path.join(SCRATCH, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    os.makedirs(OUT, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir, cores)
        session_start_s = time.perf_counter() - t0
        ctx = Context(spark, args)
        wl = WORKLOADS[args.workload](ctx)

        # set-up rounds: write the input tables and open a fresh polygon
        # layer with one join; the last round's inputs (and layer) serve
        # the timed jobs
        setup_times = []
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl.setup(r, os.path.join(run_dir, f"setup-{r}"))
            ctx.hygiene(ctx.null_tracer)
            setup_times.append(time.perf_counter() - t0)
            if r:
                shutil.rmtree(os.path.join(run_dir, f"setup-{r - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        wl.warmup()
        ctx.hygiene(ctx.null_tracer)
        warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.load_references()
        reference_s = time.perf_counter() - t0

        tracer, rss_mb, disturbed = None, None, None
        if args.trace:
            from spans import Tracer

            base = run_loop(wl, ctx, ctx.null_tracer, args.seconds / 2, 0, t_start)
            tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
            loop = run_loop(wl, ctx, tracer, args.seconds / 2, base["next_k"], t_start)
            probes = run_probe_jobs(wl, ctx, tracer)
            values = layer_metrics(tracer.spans, cores, statistics.median(base["times"]))
            units = {**{k: SUFFIX_UNITS[k.rsplit(".", 1)[1]] for k in values if k not in EXTRA_UNITS}, **EXTRA_UNITS}
            loops = [base, loop, probes]
        else:
            loop = run_loop(wl, ctx, ctx.null_tracer, args.seconds, 0, t_start)
            job_p50_s, rows_per_s, disturbed = typical_job(loop)
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            rss_mb = {"python": _vm_hwm_kb(os.getpid()) / 1024.0, "jvm": _vm_hwm_kb(jvm_pid) / 1024.0}
            values = {
                "rows_per_s": rows_per_s,
                "job_p50_s": job_p50_s,
                "peak_rss_mb": rss_mb["python"] + rss_mb["jvm"],
                "setup_s": statistics.median(setup_times),
            }
            units = {"rows_per_s": "1/s", "job_p50_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
            loops = [loop]
        spark_version = spark.version
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    oks = [ok for lp in loops for ok in lp["ok"]]
    attempted, failed = len(oks), oks.count(False)
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "perturb": args.perturb,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "job_times_s": [t for lp in loops for t in lp["times"]],
        "job_tail": tail(loop["times"]),
        "job_steal_share": [round(x, 4) for lp in loops for x in lp.get("steal", [])],
        "disturbed_jobs_left_out": disturbed,
        "setup_rounds_s": setup_times,
        "session_start_s": session_start_s,
        "warmup_s": warmup_s,
        "reference_s": reference_s,
        "peak_rss_mb": rss_mb,
        "host": {
            "nproc": cores,
            "master": f"local[{cores}]",
            "driver_memory": DRIVER_MEMORY,
            "mem_total_kb": _mem_total_kb(),
            "spark": spark_version,
            "python": sys.version.split()[0],
        },
        "git_sha": _git("rev-parse", "HEAD"),
        "git_date": _git("log", "-1", "--format=%cI"),
        "run_date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "metrics": values,
    }
    with open(os.path.join(OUT, f"record-{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if tracer is not None:
        tracer.write(os.path.join(OUT, f"spans-{stamp}.jsonl"))
    print("perfbench-record " + json.dumps(record))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
