"""flumedb_spark benchmark: one workload, one seed, one client.

    python3 perfbench/run.py --workload rw_loop --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. A fuller artifact (every op's
latency summary with its sample count, floors, layer self times, spans,
the launch stamp) is written under ``.perfbench_out/`` in the checkout.

The launch environment is pinned here: ``SPARK_GRAFT_CPUS`` is the
number of usable CPUs, ``SPARK_DRIVER_MEM`` stays below host RAM, and
every run gets fresh Spark local dirs, warehouses and db directories
under ``.perfbench_work/``, removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYERS = ("log", "engine", "views", "catalog")
UNIT_KINDS = ("write", "read", "round")


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_env(work: str) -> dict[str, str]:
    """Set the package's existing environment knobs for this run."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = max(1, min(2, host_ram_bytes() // (4 << 30)))
    tmp = os.path.join(work, "tmp")
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_SQL_WAREHOUSE": os.path.join(work, "sql-warehouse"),
        # a fixed, pre-touched heap (-Xms = -Xmx) is resident from the
        # start, so peak RSS moves only with memory outside the JVM heap
        # (per-layer jvm.heap_live_mb covers the heap); -XX:-UsePerfData: no hsperfdata
        # file in the system temp dir
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-Xms{mem_gb}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pins[key], exist_ok=True)
    os.environ.update(pins)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return pins


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stamp(args, pins: dict) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny, "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(host_ram_bytes() / (1 << 30), 1), "python": platform.python_version(),
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__, "git_commit": commit, "env": pins,
    }


def calib_ms() -> float:
    """A fixed pure-Python loop: the host's speed at this moment, stamped
    into the artifact so slow host periods can be told from regressions."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return 1000 * (time.perf_counter() - t0)


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user .. steal ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine meanwhile."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def median_or_none(values):
    return statistics.median(values) if values else None


def unit_work(ctx, kind: str, field: str) -> float:
    """Median over units of ``kind`` of the Spark work their ops caused."""
    per_unit = [sum(op.get(field, 0) for op in u["ops"]) for u in ctx.units if u["kind"] == kind]
    return median_or_none(per_unit) or 0


def end_to_end(ctx, peak_rss_mb: float) -> dict:
    need = {k: ctx.samples(k) for k in UNIT_KINDS}
    missing = [k for k, v in need.items() if not v]
    if missing or not ctx.setup_s or not ctx.space_amp:
        raise RuntimeError(f"no successful samples for {missing or ['setup']}")
    return {
        "setup_s": (statistics.median(ctx.setup_s), "s"),
        "write_ms_p50": (1000 * statistics.median(need["write"]), "ms"),
        "read_ms_p50": (1000 * statistics.median(need["read"]), "ms"),
        "round_s_p50": (statistics.median(need["round"]), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "space_amp": (ctx.space_amp, "x"),
    }


def per_layer(ctx, tracer) -> tuple[dict, dict]:
    from perfbench.metrics import layer_self_seconds

    in_ops = [s for s in tracer.spans if s["op"] is not None]
    self_s = layer_self_seconds(in_ops)
    # shares of all self time, so concurrent folds on worker threads
    # (rebuild) cannot push the shares past 100
    total = sum(self_s.values())
    m = {f"{layer}.self_pct": (100.0 * self_s.get(layer, 0.0) / total, "%") for layer in LAYERS}
    for kind in UNIT_KINDS:
        for field in ("jobs", "stages", "tasks"):
            m[f"{kind}.{field}"] = (unit_work(ctx, kind, field), "count")
    files = [f for f, _ in ctx.log_shape]
    size = [b for _, b in ctx.log_shape]
    m["log.files"] = (median_or_none(files) or 0, "count")
    m["log.manifest_bytes"] = (median_or_none(size) or 0, "B")
    floor = statistics.median(ctx.floor_s)
    base = ctx.samples("read") if ctx.floor_of == "query" else ctx.op_samples[ctx.floor_of]
    m["floor_ms_p50"] = (1000 * floor, "ms")
    m["overhead_x"] = (statistics.median(base) / floor, "x")
    m["jvm.heap_live_mb"] = (ctx.heap_live_mb, "MB")
    m["trace.bookkeeping_ms_per_op"] = (1000 * tracer.bookkeeping_s / len(tracer.ops), "ms")
    detail = {"layer_self_s": self_s}
    return m, detail


def traced_detail(tracer) -> dict:
    """Median Spark work per traced call, and the work of each view's
    first catch-up (in rebuild_read, the backfill)."""
    by_name: dict[str, list[dict]] = {}
    for op in tracer.ops:
        by_name.setdefault(op["name"], []).append(op)
    work = {
        name: {f: median_or_none([o[f] for o in ops]) for f in ("jobs", "stages", "tasks", "seconds")}
        for name, ops in by_name.items()
    }
    first_backfill = {
        name: {f: ops[0][f] for f in ("jobs", "stages", "tasks", "seconds")}
        for name, ops in by_name.items() if name.startswith("catch_up.")
    }
    return {"op_spark_work": work, "first_catch_up": first_backfill}


def op_summaries(ctx) -> dict:
    from perfbench.metrics import summarize

    out = {name: summarize([1000 * x for x in v]) for name, v in ctx.op_samples.items()}
    for kind in {u["kind"] for u in ctx.units}:
        samples = [1000 * x for x in ctx.samples(kind)]
        out[f"unit.{kind}"] = {**summarize(samples), "all": samples}
    return out


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["rw_loop", "rebuild_read", "catalog_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "flumedb_spark")
    ):
        print(f"perfbench: no flumedb_spark package under {ROOT}", file=sys.stderr)
        return 2

    t_process = time.perf_counter()
    calib = [calib_ms()]
    ticks = cpu_ticks()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    pins = pin_env(work)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spark = None
    try:
        from flumedb_spark import get_spark
        from perfbench.tracer import Tracer
        from perfbench.workloads import FULL, TINY, WORKLOADS, Ctx

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=int(pins["SPARK_GRAFT_CPUS"]))
        spark_start_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        ctx = Ctx(spark, args.seed, args.seconds, work, tracer, TINY if args.tiny else FULL)
        WORKLOADS[args.workload](ctx)
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        peak = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm)
        e2e = end_to_end(ctx, peak)
        calib.append(calib_ms())
        artifact = {
            "stamp": stamp(args, pins),
            "calib_ms": calib,
            "steal_pct": steal_pct(ticks, cpu_ticks()),
            "spark_start_s": spark_start_s,
            "setup_s_each": ctx.setup_s,
            "end_to_end": {k: v for k, (v, _u) in e2e.items()},
            "attempted": ctx.failures.attempted, "failed": ctx.failures.failed,
            "error_rate": ctx.failures.rate, "errors": ctx.failures.errors,
            "ops_ms": op_summaries(ctx), "detail": ctx.detail,
            "floor_ms": [1000 * x for x in ctx.floor_s],
            "heap_live_mb": ctx.heap_live_mb,
        }
        metrics = e2e
        if tracer is not None:
            metrics, layer_detail = per_layer(ctx, tracer)
            artifact.update(layer_detail)
            artifact.update(traced_detail(tracer))
            artifact["per_layer"] = {k: v for k, (v, _u) in metrics.items()}
            artifact["log_shape"] = ctx.log_shape
            artifact["spans"] = tracer.spans
            untraced = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)["end_to_end"]
                artifact["trace_overhead"] = {
                    k: artifact["end_to_end"][k] - base[k] for k in base
                }
            tracer.uninstall()
        artifact["wall_s"] = time.perf_counter() - t_process
        path = os.path.join(out_dir, f"{tag}.json")
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1, default=str)
        print(f"perfbench: artifact {os.path.relpath(path, ROOT)}", file=sys.stderr)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": ctx.failures.failed == 0,
        "attempted": ctx.failures.attempted,
        "failed": ctx.failures.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
