"""Benchmark entry point: one workload in one fresh Spark session.

    python3 perfbench/run.py --workload person_cascade --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The run

1. starts a session on local[N], N = usable CPUs, through the same
   ``session.get_spark`` the CLIs use, then writes the seeded inputs to
   parquet ``SETUP_REPS`` times (``setup_s`` = process start to session
   up, plus the median input materialisation);
2. runs the workload's job once cold, then warm jobs in a closed loop
   for ``--seconds`` and at least the workload's ``min_warm`` of them;
   ``job_s`` is their median;
3. checks the outputs against the pure-Python oracle, off the clock;
4. prints one line per metric and, last, one JSON object.

``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` alternates untraced and traced warm jobs and reports the
per-layer metrics of the traced ones (median over traced jobs), plus
the traced-minus-untraced job time as ``tracing.overhead_s``; its spans
are written to ``.perfbench_traces/``.

Inputs, Spark local dirs and outputs live in ``.perfbench_work/`` and
are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

SETUP_REPS = 3
DRIVER_MEMORY = "2g"

END_TO_END = [
    ("setup_s", "s"),
    ("cold_job_s", "s"),
    ("job_s", "s"),
    ("rows_per_s", "rows/s"),
    ("peak_rss_mb", "MB"),
    ("pair_f1", "ratio"),
]

_CASCADE = [1, 2, 3, 10, 11]
PER_LAYER = (
    [
        ("session.start_s", "s"),
        ("sources.web.extract.rows", "count"),
        ("sources.web.extract.py_run_s", "s"),
        ("sources.web.extract.py_init_s", "s"),
        ("sources.web.extract.bytes_to_py", "bytes"),
        ("persons.rows_in", "count"),
        ("persons.udf_rows", "count"),
        ("persons.udf_rows_per_row", "ratio"),
        ("persons.py_run_s", "s"),
        ("persons.py_init_s", "s"),
        ("persons.self_s", "s"),
        ("blocking.candidates", "count"),
        ("blocking.candidates_per_row", "ratio"),
        ("blocking.task_s_max_over_median", "ratio"),
        ("scoring.jw_rows", "count"),
        ("scoring.prefilter_pass_ratio", "ratio"),
        ("scoring.matches", "count"),
        ("scoring.match_ratio", "ratio"),
        ("scoring.py_run_s", "s"),
        ("scoring.py_init_s", "s"),
        ("algos.match_fuzzy.job_s", "s"),
        ("algos.match_fuzzy.self_s", "s"),
        ("algos.match_fuzzy.udf_rows_per_row", "ratio"),
        ("algos.match_fuzzy.candidates", "count"),
        ("algos.match_fuzzy.jw_rows", "count"),
        ("algos.match_fuzzy.matches", "count"),
        ("algos.match_fuzzy.pair_f1", "ratio"),
    ]
    + [(f"cascade.level_s.L{n}", "s") for n in _CASCADE]
    + [(f"cascade.level_matches.L{n}", "count") for n in _CASCADE]
    + [
        ("cascade.sql_executions", "count"),
        ("web_pipeline.cluster_pages_s", "s"),
        ("web_pipeline.sql_executions", "count"),
        ("web_pipeline.shuffle_write_bytes", "bytes"),
        ("incremental_cluster.mentions_per_batch", "count"),
        ("incremental_cluster.edges_per_batch", "count"),
        ("incremental_cluster.label_changes_per_batch", "count"),
        ("incremental_cluster.compactions", "count"),
        ("incremental_cluster.sql_executions_per_batch", "count"),
        ("incremental_cluster.late_over_early", "ratio"),
        ("sources.tables.append_s", "s"),
        ("sources.tables.files_written", "count"),
        ("sources.tables.label_log_files_max", "count"),
        ("checkpoint.commits", "count"),
        ("spark.sql_executions", "count"),
        ("spark.jobs", "count"),
        ("spark.tasks", "count"),
        ("spark.task_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.shuffle_write_bytes", "bytes"),
        ("spark.spill_bytes", "bytes"),
        ("spark.slot_busy_ratio", "ratio"),
        ("spark.task_failures", "count"),
        ("tracing.overhead_s", "s"),
    ]
)


def _process_age_s() -> float:
    """Seconds since this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: perf_counter reading at process start
_T0 = time.perf_counter() - _process_age_s()


class TreeRss:
    """Samples the resident memory of this process and all its
    descendants (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self._interval)

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
            stack.extend(children.get(pid, []))
        return total


def _session(name: str, work: str, cores: int):
    from name_match_latest_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM in the tree (the spark-submit launcher too) keeps its
    # temp files in the run's directory, and no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = get_spark(
        f"perfbench-{name}",
        master=f"local[{cores}]",
        # the session module's sizing advice: 2-3x the total cores
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def measure(args, root: str, work: str, rss: TreeRss) -> dict:
    from spans import Tracer
    from statusstore import StatusStore
    from workloads import NODE_NAMES, WORKLOADS, median_by_key

    cores = len(os.sched_getaffinity(0))
    spark = _session(args.workload, work, cores)
    try:
        session_s = time.perf_counter() - _T0
        wl = WORKLOADS[args.workload](spark, work, args.seed, cores)
        reps = []
        for k in range(SETUP_REPS):
            t = time.perf_counter()
            wl.make_inputs(os.path.join(work, "inputs", str(k)))
            reps.append(time.perf_counter() - t)
        wl.use_inputs(os.path.join(work, "inputs", str(SETUP_REPS - 1)))
        setup_s = session_s + statistics.median(reps)

        tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
        store = StatusStore(spark, NODE_NAMES) if args.trace else None
        cold_s, warm, traced, layer_runs = None, [], [], []
        attempted = failed = 0
        first_count = None
        i = 0
        while wl.has_next(i):
            trace_this = tracer is not None and i > 0 and len(warm) > len(traced)
            attempted += 1
            try:
                if trace_this:
                    with tracer.span("job") as job_span:
                        n = wl.job(i, tracer)
                    dt = job_span.duration_s
                else:
                    t = time.perf_counter()
                    n = wl.job(i, None)
                    dt = time.perf_counter() - t
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            if first_count is None:
                first_count = n
            elif n != first_count:
                print(f"job {i}: {n} output rows, first job had {first_count}", file=sys.stderr)
                failed += 1
            if i == 0:
                cold_s = dt
                t_start = time.perf_counter()
            elif trace_this:
                traced.append(dt)
            else:
                warm.append(dt)
            wl.release()
            if trace_this:
                layer_runs.append(wl.layers(store, tracer, job_span))
            i += 1
            enough = len(warm) >= wl.min_warm and (tracer is None or traced)
            if enough and time.perf_counter() - t_start >= args.seconds:
                break

        check = wl.check(tracer) if failed == 0 else None
        layers = {}
        if args.trace and failed == 0:
            layers = median_by_key(layer_runs)
            layers.update(wl.run_layers(store, tracer, warm + traced))
        for msg in wl.failures:
            print(f"check failed: {msg}", file=sys.stderr)
        failed = min(attempted, failed + len(wl.failures))
        if check is None or not check.ok:
            failed = min(attempted, failed + 1)
        print(f"check: {check.detail if check else 'skipped after a failed job'}")

        if args.trace:
            layers["session.start_s"] = session_s
            cand = layers.get("blocking.candidates", 0.0)
            layers["scoring.match_ratio"] = layers.get("scoring.matches", 0.0) / cand if cand else 0.0
            if warm and traced:
                layers["tracing.overhead_s"] = statistics.median(traced) - statistics.median(warm)
            out_dir = os.path.join(root, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"))
            values = [(name, unit, float(layers.get(name, 0.0))) for name, unit in PER_LAYER]
        else:
            job_s = statistics.median(warm) if warm else 0.0
            e2e = {
                "setup_s": setup_s,
                "cold_job_s": cold_s or 0.0,
                "job_s": job_s,
                "rows_per_s": wl.input_rows / job_s if job_s else 0.0,
                "peak_rss_mb": rss.peak_bytes / 1e6,
                "pair_f1": check.pair_f1 if check else 0.0,
            }
            values = [(name, unit, e2e[name]) for name, unit in END_TO_END]
        print(
            f"{args.workload}: {attempted} jobs attempted, {failed} failed; "
            f"cold {cold_s or 0:.3f} s, {len(warm)} warm untraced "
            f"{[round(x, 3) for x in warm]} s, {len(traced)} traced "
            f"{[round(x, 3) for x in traced]} s; set-up median of {SETUP_REPS} "
            f"input writes {[round(x, 3) for x in reps]} s"
        )
        for name, unit, v in values:
            print(f"  {name} = {v:.6g} {unit}")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": v, "unit": unit} for name, unit, v in values},
        }
    finally:
        _stop(spark)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "name_match_latest_spark")):
        print("perfbench: run from the repository root (name_match_latest_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # Python workers import the package from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (root, os.environ.get("PYTHONPATH")) if x
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.chdir(work)
    try:
        with TreeRss() as rss:
            result = measure(args, root, work, rss)
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
