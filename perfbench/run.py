"""vtshaver_spark benchmark: one workload per run, on one long-lived
``local[N]`` session in this process.

    python3 perfbench/run.py --workload tile_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one table

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). Scratch
files, spans and Spark's local directories go to ``.perfbench/`` in
the checkout. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# input builds per run; setup_s = session start + their median + warm-up
SETUPS = 3
# traced operations per probe in a traced run
PROBE_OPS = 5


def driver_memory_mb() -> int:
    """A sixteenth of physical memory, clamped to [512, 1024] MB: the
    inputs are small, and a smaller heap grows less differently from
    run to run."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return max(512, min(1024, total_kb // 1024 // 16))


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


class Context:
    """What a workload needs: the session, its work directory, the
    seed, the tracer and the partition count."""

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.work = WORK
        self.partitions = cores()
        self.master = f"local[{self.partitions}]"
        self.driver_memory = f"{driver_memory_mb()}m"
        self.spark = None

    def start_session(self):
        from vtshaver_spark.session import build_session

        local = os.path.join(self.work, "spark-local")
        self.spark = build_session(
            app_name="perfbench",
            master=self.master,
            shuffle_partitions=self.partitions,
            extra_conf={
                "spark.driver.memory": self.driver_memory,
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # -XX:-UsePerfData: no hsperfdata file in the system /tmp
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self):
        """Stop the session, then end the JVM (it exits when its stdin
        closes) and wait for it, so no process outlives the run."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=120)


def prepare_env():
    """Keep every file the run writes inside the checkout, and let
    Spark's Python workers import the program from the checkout root."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT]


def run_op(ctx, wl, i: int, traced: bool) -> tuple:
    """One operation, timed alone; its output is checked after the timer
    stops. With ``traced``, the tracer is on and the workload's
    ``instrument`` wraps the entry points it calls. Returns
    (latency_s, cpu_s, result, ok); cpu_s is the CPU time the process
    tree spent over the operation, read outside its timed span."""
    instrument = getattr(wl, "instrument", None)
    ctx.tracer.enabled = traced
    res, dt, cpu, ok = None, 0.0, 0.0, False
    try:
        with instrument(ctx) if traced and instrument else contextlib.nullcontext():
            cpu = tree_cpu_s()
            t = time.perf_counter()
            with ctx.tracer.span("op", req=i):
                res = wl.op(ctx, i)
            dt = time.perf_counter() - t
            cpu = tree_cpu_s() - cpu
        ok = wl.check(res)
    except Exception:  # a failed operation is counted, not fatal
        traceback.print_exc()
    return dt, cpu, res, ok


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of the machine, from /proc/stat. Steal is
    time the hypervisor gave our virtual CPUs to someone else: its share
    over the window tells a slow host from a slow program."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its live
    descendants, from /proc/<pid>/stat. Time the hypervisor stole from
    a virtual CPU is not charged to the process running on it."""
    from tracing import _tree

    ticks = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def window(ctx, wl, seconds: float, trace: bool = False) -> list:
    """Run operations back to back (closed loop, one client) until
    ``seconds`` have passed; returns (latency_s, cpu_s, items, ok,
    traced) per op. With ``trace``, every second op runs traced, so
    traced and untraced ops interleave and their difference is the
    tracing cost."""
    ops = []
    end = time.perf_counter() + seconds
    while True:
        i = len(ops)
        traced = trace and i % 2 == 1
        dt, cpu, res, ok = run_op(ctx, wl, i, traced)
        ops.append((dt, cpu, wl.items(res) if ok else 0, ok, traced))
        if time.perf_counter() >= end:
            ctx.tracer.enabled = trace
            return ops


def run_probe(ctx, probe) -> tuple:
    """A probe's layer metrics: its own oracle, one set-up, warm-up,
    then PROBE_OPS traced operations on a tracer of its own, whose spans
    are written beside the workload's. Returns (metrics, every check
    passed)."""
    import corpus
    from tracing import Tracer

    probe.oracle(corpus.duckdb_connection())
    main_tracer, ctx.tracer = ctx.tracer, Tracer(enabled=False)
    try:
        probe.setup(ctx)
        probe.warm_up(ctx)
        ok = all([run_op(ctx, probe, i, traced=True)[3] for i in range(PROBE_OPS)])
        ok = probe.final_check(ctx) and ok
        ctx.tracer.write(os.path.join(WORK, f"spans-{probe.name}-seed{ctx.seed}.json"))
        return probe.layers(ctx, ctx.tracer.self_times()), ok
    finally:
        ctx.tracer = main_tracer


def summarize(ops: list) -> dict:
    from tracing import median, percentile

    done = [op for op in ops if op[3]]
    if not done:
        raise SystemExit("every operation failed")
    lat = [op[0] for op in done]
    return {
        "items_per_cpu_s": sum(op[2] for op in done) / sum(op[1] for op in done),
        "items_per_s": sum(op[2] for op in done) / sum(lat),
        "p50_ms": 1000.0 * median(lat),
        "p90_ms": 1000.0 * percentile(lat, 90),
        "n": len(lat),
    }


def run_one(args, spec) -> tuple:
    import corpus
    import workloads
    from tracing import Tracer, TreeMemory, coverage, median

    wl = workloads.WORKLOADS[args.workload]()
    ctx = Context(args.seed, Tracer(enabled=False))
    t = time.perf_counter()
    wl.oracle(corpus.duckdb_connection())
    phases = {"oracle": time.perf_counter() - t}
    with TreeMemory() as mem:
        t = time.perf_counter()
        ctx.start_session()
        session_s = time.perf_counter() - t
        setups = []
        for _ in range(SETUPS):
            t = time.perf_counter()
            wl.setup(ctx)
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up(ctx)
        warmup_s = time.perf_counter() - t

        t, ticks = time.perf_counter(), cpu_ticks()
        ops = window(ctx, wl, args.seconds, trace=bool(args.trace))
        phases["window"] = time.perf_counter() - t
        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        t = time.perf_counter()
        correct = wl.final_check(ctx)
        phases["checks"] = time.perf_counter() - t
        t = time.perf_counter()
        if args.trace:
            spans = ctx.tracer.self_times()
            layers = wl.layers(ctx, spans)
            ctx.tracer.write(os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json"))
            for probe in getattr(wl, "probes", tuple)():
                probe_layers, ok = run_probe(ctx, probe)
                layers.update(probe_layers)
                correct = correct and ok
        phases["layers"] = time.perf_counter() - t
        info = env_info(ctx)
        t = time.perf_counter()
        ctx.stop()
        phases["stop"] = time.perf_counter() - t

    failed = sum(1 for op in ops if not op[3])
    if args.trace:
        traced = summarize([op for op in ops if op[4]])
        untraced = summarize([op for op in ops if not op[4]])
        values = {
            "session.start_s": session_s,
            "trace.overhead_ms": traced["p50_ms"] - untraced["p50_ms"],
            "trace.coverage": coverage(spans),
            **layers,
        }
        wanted, stats = spec["per_layer"], traced
    else:
        stats = summarize(ops)
        values = {
            "setup_s": session_s + median(setups) + warmup_s,
            "items_per_cpu_s": stats["items_per_cpu_s"],
            "bytes_ratio": wl.bytes_ratio(),
            "peak_rss_mb": mem.peak_mb,
        }
        wanted = spec["end_to_end"]
    info.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        items=wl.unit, samples=stats["n"], failed_frac=failed / len(ops),
        wall_items_per_s=stats["items_per_s"], wall_p50_ms=stats["p50_ms"],
        wall_p90_ms=stats["p90_ms"],
        latencies_ms=[round(1000 * op[0], 1) for op in ops],
        cpu_ms=[round(1000 * op[1]) for op in ops],
        session_start_s=session_s, setups_s=setups, warmup_s=warmup_s,
        phases_s=phases, window_steal_frac=steal / max(total, 1),
    )
    result = {
        "correct": bool(correct and not failed),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted
        },
    }
    return info, result


def env_info(ctx) -> dict:
    import pyarrow

    jvm = ctx.spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "cores_usable": len(os.sched_getaffinity(0)),
        "master": ctx.master,
        "driver_memory": ctx.driver_memory,
        "spark": ctx.spark.version,
        "arrow": pyarrow.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def run_all(args, spec) -> int:
    """Every workload in its own process, one table, one JSON line."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in (w["name"] for w in spec["workloads"]):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        print("\n".join(lines[:-1]))
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    prepare_env()
    import vtshaver_spark  # noqa: F401  (fail fast where the program is absent)

    if args.workload == "all":
        return run_all(args, spec)
    info, result = run_one(args, spec)
    print("# " + json.dumps(info))
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
