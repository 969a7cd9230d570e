"""Layered validation benchmark: one workload per invocation.

    python3 perfbench/run.py --workload validate_counts --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root.  One process, one Spark JVM in
``local[nproc]`` with a pinned heap.  Inputs are generated from
``--seed``, the session is warmed up with a fixed number of iterations,
then iterations run in a closed loop (each starts when the previous one
returned) for ``--seconds``.  Every iteration's outputs are checked
against an independent DuckDB computation before it counts as done.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced iterations and prints the per-layer metrics (see
``trace.py``).  The last stdout line is the result JSON; the line before
it (``info``) carries host and configuration facts.  A JSON record with
the spans of a traced run is written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".bench_out")

#: driver heap in GiB, pinned so every run (and the pre-touched RSS it
#: implies) is the same; only a host with less than 4x this available
#: gets a smaller heap
HEAP_GB = 2
#: warm-up iterations before timing, the cold one included.  Iteration
#: times keep falling slowly for a dozen iterations or more while the
#: JVM's JIT compiles the planning and scheduling code, but the steep
#: part is the cold iteration.  A run cannot afford the whole curve, so
#: a fixed count places every run's timed window at the same point of
#: it, and the time saved goes to a longer timed window
WARMUP_ITERS = {"validate_counts": 2, "validate_sink_resume": 1,
                "setlevel_hotkeys": 2, "operator_queries": 3}
#: fewest timed iterations of an untraced run
MIN_TIMED = 2
NOTE = ("BENCH_r01-r05 and bench.py numbers come from a 32-core host and "
        "timed .count(); they are not a baseline for these figures")

END_TO_END = {"setup_s": "s", "iter_s_p50": "s",
              "validate_seq_per_s": "rows/s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import QUERIES
    units = {
        "runner.jobs": "count", "runner.driver_serial_s": "s",
        "runner.pool_overlap": "ratio", "runner.worklist_s": "s",
        "profile.executor_run_s": "s", "profile.executor_cpu_s": "s",
        "profile.input_mb": "MB", "profile.shuffle_write_mb": "MB",
        "profile.jobs": "count",
        "constraints.unique.executor_run_s": "s",
        "constraints.unique.shuffle_write_mb": "MB",
        "constraints.unique.spill_mb": "MB",
        "constraints.unique.task_skew": "ratio",
        "constraints.referential.executor_run_s": "s",
        "contrast.span_s": "s",
        "sink.append_s": "s", "sink.output_mb": "MB", "sink.jobs": "count",
        "sink.bytes_per_input_byte": "ratio",
        "manifest.write_s": "s", "manifest.read_s": "s",
        "cache.persisted_mb": "MB",
        "arrow.to_python_mb": "MB", "arrow.from_python_mb": "MB",
        "arrow.python_rows": "count", "arrow.python_run_s": "s",
        "arrow.stage_run_s": "s",
    }
    for q in QUERIES:
        units[f"query.{q}.s"] = "s"
        units[f"query.{q}.shuffle_write_mb"] = "MB"
    units.update({
        "spark.executor_run_s": "s", "spark.gc_s": "s",
        "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB", "spark.tasks": "count",
        "spark.failed_tasks": "count",
        "session.start_s": "s", "session.warmup_s": "s",
        "input.gen_s": "s", "trace.overhead_s": "s",
    })
    return units


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of every CPU of the host since boot: the
    time other tenants of the machine took from this one shows as
    steal."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def pinned_heap_gb() -> int:
    avail_gb = meminfo_kb("MemAvailable") / 2**20
    return HEAP_GB if avail_gb >= 4 * HEAP_GB else max(1, int(avail_gb // 4))


def descendants(pid: int) -> list[int]:
    """PIDs of every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """High-water mark of the summed RSS of this process and all its
    descendants (driver JVM, Python workers), sampled every 0.2 s.

    A descendant counts from its second sample on.  The JVM starts
    helper commands (Hadoop's local file system runs ``ls``/``chmod``
    when its native library is missing) through a fork whose child,
    until it execs, reports the whole JVM's RSS as its own; counting
    such a child would add a second JVM to the peak."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        seen: set[int] = set()
        while not self._stop_evt.is_set():
            pids = set(descendants(me))
            total = rss_kb(me) + sum(rss_kb(p) for p in pids & seen)
            self.peak_kb = max(self.peak_kb, total)
            seen = pids
            self._stop_evt.wait(0.2)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024


def source_digest() -> str:
    """sha256 over the engine sources, identifying the code measured
    when the checkout has no git metadata."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, fs in os.walk(os.path.join(ROOT, "data_validation_spark")):
        files += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def start_spark(work: str, n_cpus: int, heap_gb: int):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cpus)
    from data_validation_spark.session import ENGINE_DEFAULTS, get_spark
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    java_opts = (ENGINE_DEFAULTS["spark.driver.extraJavaOptions"]
                 + f" -Djava.io.tmpdir={jtmp}"
                 + f" -XX:ErrorFile={OUT_DIR}/hs_err_pid%p.log")
    spark = get_spark(
        app_name="perfbench", master=f"local[{n_cpus}]",
        shuffle_partitions=n_cpus,
        extra_conf={"spark.ui.enabled": "false",
                    "spark.local.dir": os.path.join(work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.driver.extraJavaOptions": java_opts})
    spark.range(1).collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under us, and
    wait for each to end."""
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
            proc.wait()
    reap_children()


def reap_children(grace_s: float = 20.0) -> None:
    deadline = time.time() + grace_s
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


class Loop:
    """Closed-loop iterations with per-iteration output checks."""

    def __init__(self, wl):
        self.wl = wl
        self.walls: list[float] = []
        self.intervals: list[tuple[float, float]] = []
        self.failed = 0
        self.sink_ratio: list[float] = []
        self.n = 0

    def once(self, timed: bool) -> float:
        """One iteration; returns the wall time of its ``run`` call (the
        check and cleanup that follow are not part of it)."""
        wl = self.wl
        # collect Python's garbage (and release the JVM objects its py4j
        # proxies held) here, not inside the next iteration's timing
        gc.collect()
        t0 = time.time()
        out = wl.run(self.n)
        t1 = time.time()
        problems = wl.check(out)
        if hasattr(wl, "sink_bytes"):
            self.sink_ratio.append(wl.sink_bytes(out) / wl.facts["bytes"])
        wl.cleanup(out)
        self.n += 1
        if problems:
            log(f"iteration {self.n}: {len(problems)} problems, first: "
                + "; ".join(problems[:5]))
            self.failed += 1
        if timed:
            self.walls.append(t1 - t0)
            self.intervals.append((t0, t1))
        return t1 - t0

    def for_seconds(self, seconds: float) -> None:
        """Iterate until ``seconds`` have passed and at least
        ``MIN_TIMED`` iterations are done, so that an iteration a little
        longer or shorter than the window does not change how many
        samples the run's median rests on."""
        deadline = time.time() + seconds
        while True:
            self.once(timed=True)
            if time.time() >= deadline and len(self.walls) >= MIN_TIMED:
                return


def traced_loop(spark, wl, loop: Loop, seconds: float) -> dict:
    """Alternate untraced and traced iterations for ``seconds``, so both
    see the same JIT and host state; returns the trace record with the
    per-layer metrics of each traced iteration."""
    from perfbench import trace

    tracer = trace.Tracer(spark)
    untraced: list[int] = []            # indices into loop.walls
    traced: list[tuple[int, int]] = []  # (index into loop.walls, span tag)
    since = time.time()
    deadline = since + seconds
    while True:
        if len(untraced) > len(traced):
            tracer.iteration = loop.n
            tracer.install()
            wl.around = tracer.span
            try:
                loop.once(timed=True)
            finally:
                wl.around = None
                tracer.uninstall()
            traced.append((len(loop.walls) - 1, tracer.iteration))
        else:
            loop.once(timed=True)
            untraced.append(len(loop.walls) - 1)
        if traced and time.time() >= deadline:
            break
    jobs = trace.read_jobs(spark, since)
    per_iter = [trace.iteration_metrics(
                    spark, [s for s in tracer.spans if s["iteration"] == n],
                    jobs, *loop.intervals[k])
                for k, n in traced]
    return {"spans": tracer.spans, "jobs": jobs, "iterations": per_iter,
            "untraced_walls": [loop.walls[k] for k in untraced],
            "traced_walls": [loop.walls[k] for k, _ in traced]}


def run_workload(args, work: str) -> tuple[dict, dict, dict]:
    """Returns (result, info, record)."""
    import pyarrow
    import pyspark
    from perfbench.workloads import WORKLOADS

    n_cpus = len(os.sched_getaffinity(0))
    heap_gb = pinned_heap_gb()
    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "scale": args.scale, "nproc": n_cpus,
            "mem_available_kb": meminfo_kb("MemAvailable"),
            "heap_gb": heap_gb, "pyspark": pyspark.__version__,
            "loadavg_start": os.getloadavg(), "git_commit": git_commit(),
            "source_sha": source_digest(), "note": NOTE}
    rss = RssSampler()
    t0 = time.time()
    spark = start_spark(work, n_cpus, heap_gb)
    try:
        start_s = time.time() - t0
        info["spark"] = spark.version
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale,
                                      n_cpus)
        t = time.time()
        wl.prepare()
        gen_s = time.time() - t
        # hand the generated tables' memory back before RSS is sampled,
        # so the peak does not depend on what the allocator kept
        gc.collect()
        pyarrow.default_memory_pool().release_unused()
        info["inputs"] = wl.facts
        loop = Loop(wl)
        # the engine's time only: the outputs checks between warm-up
        # iterations are not part of set-up
        warmup_s = sum(loop.once(timed=False)
                       for _ in range(WARMUP_ITERS[args.workload]))
        warm_failed, loop.failed = loop.failed, 0

        rss.start()
        cpu0 = host_cpu()
        record: dict = {}
        if not args.trace:
            loop.for_seconds(args.seconds)
        else:
            record = traced_loop(spark, wl, loop, args.seconds)
        peak_rss_mb = rss.stop()
        (steal0, total0), (steal1, total1) = cpu0, host_cpu()
        info["steal_pct"] = 100 * (steal1 - steal0) / max(1, total1 - total0)
    finally:
        info["loadavg_end"] = os.getloadavg()
        stop_spark(spark)

    attempted, failed = len(loop.walls), loop.failed
    p50 = statistics.median(record.get("untraced_walls", loop.walls))
    info.update({"iterations": len(loop.walls), "iter_s_p50": p50,
                 "walls": loop.walls, "setup_s": start_s + warmup_s,
                 "warmup_failed": warm_failed, "input_gen_s": gen_s,
                 "ops_failed_ratio": failed / attempted})
    if loop.sink_ratio:
        info["sink_bytes_per_input_byte"] = statistics.median(loop.sink_ratio)
    if not args.trace:
        values = {"setup_s": start_s + warmup_s, "iter_s_p50": p50,
                  "validate_seq_per_s": wl.rows / p50,
                  "peak_rss_mb": peak_rss_mb}
        units = END_TO_END
    else:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        for name in units:
            got = [m[name] for m in record["iterations"] if name in m]
            if got:
                values[name] = statistics.median(got)
        values.update({
            "session.start_s": start_s, "session.warmup_s": warmup_s,
            "input.gen_s": gen_s,
            "sink.bytes_per_input_byte":
                info.get("sink_bytes_per_input_byte", 0.0),
            "trace.overhead_s":
                statistics.median(record["traced_walls"]) - p50})
    result = {"correct": failed == 0 and warm_failed == 0,
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]}
                          for k, v in values.items()}}
    return result, info, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["validate_counts", "validate_sink_resume",
                             "setlevel_hotkeys", "operator_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use a tiny scale)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_validation_spark")):
        log(f"no engine sources under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    # keep every scratch file of Spark, its Python workers and DuckDB
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result, info, record = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
        json.dump({"info": info, "result": result, **record}, f,
                  default=str)
    print("info " + json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
