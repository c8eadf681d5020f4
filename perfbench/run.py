"""Benchmark entry point: one workload, one driver process, one closed loop.

    python3 perfbench/run.py --workload iterative_graph --seed 1 --seconds 25 --trace 0

Run it from the repository root.  It generates the workload's inputs from
``--seed`` under ``.bench_build/perfbench/``, runs every oracle, starts
the engine's session at ``local[<nproc>]``, runs one untimed, cold
warm-up pass, then times passes for ``--seconds``: a pass runs when at
least half of it fits in what is left.  One client runs the operations
one after another.  ``pass_s`` is, for each operation of a pass, the
fastest of its untraced timed runs, summed: on a shared host other
tenants' load only ever adds time, so the fastest run is the steadiest
figure of an operation's own cost.  The outputs of the last pass are
then checked against the oracles, untimed.  ``--trace 1``
runs untraced and traced passes in ABBA order and reports the per-layer
metrics instead of the end-to-end ones.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it is the run record (versions, core count, seed, scale,
steal, failed_ratio, pass samples); the record and, when traced, every
span are also written to ``.bench_build/perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "openmrs_patient_migration_script_spark"
WORKLOADS = ("iterative_graph", "llm_curation", "patient_migration")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale",
        type=float,
        default=None,
        help="scale factor of the query workloads (default 0.01), or the "
        "enrollment row count of patient_migration (default 400000)",
    )
    p.add_argument("--plant-wrong", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------- process tree


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int, exclude: set[int] = frozenset()) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            if k not in exclude:
                out.append(k)
                todo.append(k)
    return out


class PeakRss:
    """Peak resident memory of this process and its descendants (the
    JVM and the Python workers) over an interval: the kernel's own
    per-process peak (``VmHWM``), reset through ``clear_refs`` at the
    start and summed at the end, so no spike falls between samples."""

    def __init__(self, exclude: set[int]):
        self.exclude = exclude

    def _pids(self) -> list[int]:
        return [os.getpid()] + descendants(os.getpid(), self.exclude)

    def reset(self) -> None:
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_bytes(self) -> int:
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += next(int(x.split()[1]) for x in f if x.startswith("VmHWM")) * 1024
            except (OSError, StopIteration):
                pass
        return total


class StealSampler:
    """``tools/steal_sampler.py`` beside the run; mean host steal (%)
    over a window."""

    def __init__(self, work: str):
        tool = os.path.join(ROOT, "tools", "steal_sampler.py")
        self.log = open(os.path.join(work, "steal.log"), "w+")
        self.proc = subprocess.Popen([sys.executable, tool, "0.5"], stdout=self.log)

    def stop(self) -> list[tuple[float, float]]:
        self.proc.terminate()
        self.proc.wait(timeout=30)
        self.log.seek(0)
        rows = [line.split() for line in self.log.read().splitlines()]
        self.log.close()
        return [(float(t), float(p)) for t, p in rows if t and p]


def mean_steal(samples, start: float, end: float):
    inside = [p for t, p in samples if start <= t <= end + 0.5]
    return round(statistics.fmean(inside), 4) if inside else None


# ------------------------------------------------------------------ session


def configure_env(work: str) -> dict:
    """Keep every file Spark, Derby and the JVM write inside ``work`` and
    let the Python workers import the package."""
    for sub in ("spark-local", "tmp", "derby", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher too: no /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        ["-XX:-UsePerfData", os.environ.get("JAVA_TOOL_OPTIONS", "")]
    ).strip()
    java_opts = " ".join(
        [
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
        ]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {os.environ['SPARK_DRIVER_MEM']} "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (the gateway exits on
    EOF) and wait for it and every Python worker to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
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
            proc.wait()


def wait_for_children(timeout: float = 30.0) -> None:
    """Wait for every descendant to end; kill what is left at the deadline."""
    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ------------------------------------------------------------------ metrics


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4)


def high_percentile(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    value; with 20 or fewer samples that is the median."""
    n = len(values)
    q = max(0.5, 1 - 10 / n)
    ordered = sorted(values)
    value = ordered[min(n - 1, int(q * n))] if q > 0.5 else statistics.median(values)
    return q, value


def per_pass_layers(tracer, index: int) -> dict:
    """Sum the spans of one traced pass into per-layer figures.  Shares
    are of the time inside top-level spans, which leaves out the
    tracer's own reads between them."""
    roots = {s["id"] for s in tracer.spans if s["attrs"].get("pass_index") == index}
    wall = sum(s["end"] - s["start"] for s in tracer.spans if s["id"] in roots)
    spans = []
    for s in tracer.spans:
        top = s
        while top["parent"] is not None:
            top = tracer.spans[top["parent"]]
        if top["id"] in roots:
            spans.append(s)

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def counter(key, name=None):
        return sum(s["counters"][key] for s in spans if name is None or s["name"] == name)

    from perfbench.trace import COUNTERS

    out = {k: counter(k) for k in COUNTERS}
    out["spark.core_busy_share"] = out["spark.executor_run_s"] / (wall * nproc())
    out["plans.build_s"] = dur("plans.build")
    out["plans.build_jobs"] = counter("spark.jobs", "plans.build")
    out["plans.build_share"] = out["plans.build_s"] / wall
    out["catalyst.plan_s"] = dur("catalyst.plan")
    out["sink.execute_s"] = (
        dur("sink.execute") + dur("etl.write_multi_sink") + dur("jdbc.write_jdbc_append")
    )
    out["etl.max_id_offset_s"] = dur("etl.max_id_offset")
    out["etl.surrogate_keys_s"] = dur("etl.assign_surrogate_keys")
    out["etl.multi_sink_s"] = dur("etl.write_multi_sink")
    out["etl.sink_write_tasks"] = counter("spark.tasks", "etl.write_multi_sink")
    out["jdbc.append_s"] = dur("jdbc.write_jdbc_append")
    out["jdbc.upstream_input_bytes"] = counter("spark.input_bytes", "jdbc.write_jdbc_append")
    return out


def load_declared() -> tuple[dict, dict]:
    """Metric name -> unit, end-to-end and per-layer, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"]}, {
        m["name"]: m["unit"] for m in spec["per_layer"]
    }


# --------------------------------------------------------------------- main


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "verify_local.py")
    ):
        print(f"perfbench: {PACKAGE}/ and tools/ must sit beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    end_to_end, per_layer = load_declared()

    from perfbench import workloads
    from perfbench.trace import Tracer

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(os.path.join(work, "data"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    extra_conf = configure_env(work)
    steal = StealSampler(work)
    rss = PeakRss(exclude={steal.proc.pid})
    spark = None
    try:
        t = time.perf_counter()
        wl = workloads.make(args.workload, args.scale)
        wl.prepare(os.path.join(work, "data"), args.seed)
        prepare_s = time.perf_counter() - t

        # set-up: session start plus the untimed warm-up
        t0 = time.perf_counter()
        from openmrs_patient_migration_script_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf=extra_conf)
        session_start_s = time.perf_counter() - t0
        untraced = Tracer(spark, False)
        failed, attempted = wl.warmup(spark, untraced)
        setup_s = time.perf_counter() - t0

        tracer = Tracer(spark, bool(args.trace))
        walls: dict[bool, list[float]] = {False: [], True: []}
        ops: dict[str, list[float]] = {}  # operation -> untraced timed runs
        peaks = []
        between_s = 0.0  # untimed work between passes
        layers = []
        timed_start, wall_start = time.perf_counter(), time.time()
        index = 0
        while True:
            # untraced and traced passes in ABBA order, so neither side
            # always runs the earlier, colder pass
            traced = bool(args.trace) and index % 4 in (1, 2)
            tr = tracer if traced else untraced
            if traced:
                tracer.sync()
            rss.reset()
            tp = time.perf_counter()
            failed += wl.run_pass(spark, tr, index)
            wall = time.perf_counter() - tp
            peaks.append(rss.peak_bytes())
            attempted += wl.operations_per_pass()
            walls[traced].append(wall)
            if traced:
                layers.append(per_pass_layers(tracer, index))
            else:
                for op, seconds in wl.pass_ops.items():
                    ops.setdefault(op, []).append(seconds)
            t = time.perf_counter()
            wl.after_pass(spark, index)
            between_s += time.perf_counter() - t
            index += 1
            # run another pass only if at least half of it fits in the
            # window, so a pass near the window's length does not flip
            # between one and two samples; an untraced run times at least
            # two passes, so pass_s is always a fastest of two or more
            left = args.seconds - (time.perf_counter() - timed_start)
            if args.trace:
                enough = bool(walls[False] and walls[True])
            else:
                enough = len(walls[False]) >= 2
            if left < wall / 2 and enough:
                break
        wall_end = time.time()

        t = time.perf_counter()
        problems = wl.verify(spark, args.plant_wrong)
        verify_s = time.perf_counter() - t
        for p in problems:
            print(f"MISMATCH {p}")
        failed += len(problems)

        pass_s = sum(min(v) for v in ops.values())
        spark_version = spark.version
        sinks = wl.sink_stats(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        samples = steal.stop()
        wait_for_children()
        shutil.rmtree(work, ignore_errors=True)

    values = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "peak_rss_mb": statistics.median(peaks) / 2**20,
        "rows_per_s": wl.output_rows() / pass_s,
        "sink_bytes_ratio": sinks["output_bytes"] / wl.input_bytes,
    }
    if args.trace:
        layer = {k: statistics.median(p[k] for p in layers) for k in layers[0]}
        layer.update(
            {
                "session.start_s": session_start_s,
                "etl.sink_files": sinks["feed_files"],
                "etl.sink_bytes": sinks["feed_bytes"],
                "jdbc.rows": sinks["jdbc_rows"],
                "trace.overhead_s": statistics.median(walls[True])
                - statistics.median(walls[False]),
            }
        )
        values = layer
    declared = per_layer if args.trace else end_to_end
    metrics = {k: {"value": values[k], "unit": u} for k, u in declared.items()}

    import pyspark

    q, p_high = high_percentile(walls[False])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc(),
        "spark_version": spark_version,
        "pyspark_version": pyspark.__version__,
        "python": sys.version.split()[0],
        "scale": getattr(wl, "sf", getattr(wl, "rows", None)),
        "run_seconds": args.seconds,
        "pass_samples": len(walls[False]),
        "pass_s_op_medians": sum(statistics.median(v) for v in ops.values()),
        "pass_quartiles_s": quartiles(walls[False]),
        "pass_p_high": {"percentile": q, "value_s": p_high},
        "traced_pass_samples": len(walls[True]),
        "failed_ratio": failed / attempted,
        "steal_pct_timed": mean_steal(samples, wall_start, wall_end),
        "steal_pct_run": mean_steal(samples, 0, float("inf")),
        "prepare_s": prepare_s,
        "verify_s": verify_s,
        "between_passes_s": between_s,
        "problems": problems,
        "op_seconds": ops,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, f"{name}.json"), "w") as f:
        json.dump({"record": record, "metrics": metrics}, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(results, f"{name}-spans.json"))
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
