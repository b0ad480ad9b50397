"""Benchmark entry point.  Run from the repository root::

    python3 perfbench/run.py --workload clips --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics of BENCHMARK.json;
``--trace 1`` is the separate traced run that reports the per-layer
metrics (spans, status-store stage metrics, py4j counts) together with
the tracing overhead.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds diagnostics (host-speed probe, per-pass walls, golden gap,
failures).

Sizing follows the machine: Spark gets half the cores it may run on
(``local[nproc // 2]`` and as many shuffle partitions), so that the
JVM's compiler and GC threads, the Python workers and this process
never queue behind the task threads; driver memory is a quarter of
MemTotal (at most 2 GiB).
Inputs, Spark scratch space and span files live under ``.perfbench/``
in the repository root.  Load comes from this one process.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("clips", "corpus")


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal not found in /proc/meminfo")


def _environment(cache: Path, threads: int) -> None:
    """Size Spark to the host it runs on and keep its scratch files in
    the repository.  Python workers get the repository on PYTHONPATH (they do
    not inherit this process's sys.path)."""
    tmp = cache / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(threads)
    env["SPARK_DRIVER_MEM"] = f"{min(2048, _mem_total_mb() // 4)}m"
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    env["TMPDIR"] = str(tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    sys.path.insert(0, str(ROOT))


def _shutdown() -> None:
    """Stop Spark, end the driver JVM and wait for every process this
    run started (the JVM and its Python workers)."""
    from pyspark import SparkContext

    from measure import descendants, wait_gone

    kids = descendants()
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.close()
    if proc is not None:
        proc.stdin.close()      # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    wait_gone(kids)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_start = time.perf_counter()

    missing = [f for f in ("jesse_spark/__init__.py", "__spark_entry__.py", "bench.py")
               if not (ROOT / f).is_file()]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cache = ROOT / ".perfbench"
    nproc = len(os.sched_getaffinity(0))
    threads = max(1, nproc // 2)
    _environment(cache, threads)

    import workloads
    from measure import RssSampler, host_probe

    ctx = workloads.Ctx(root=ROOT, cache=cache, seed=args.seed, seconds=args.seconds,
                        trace=bool(args.trace), threads=threads, t0=t_start)
    ctx.notes.update(workload=args.workload, seed=args.seed, nproc=nproc,
                     spark_threads=threads,
                     driver_mem=os.environ["SPARK_DRIVER_MEM"],
                     host_probe_items_per_s=round(host_probe(), 1))
    with RssSampler() as rss:
        try:
            e2e, layers = workloads.WORKLOADS[args.workload](ctx)
        finally:
            _shutdown()
    e2e["peak_rss_mb"] = rss.peak_mb
    ctx.mark("shutdown")
    ctx.notes["host_probe_end_items_per_s"] = round(host_probe(), 1)
    ctx.notes["elapsed_s"] = round(time.perf_counter() - t_start, 3)

    chosen, values = ((spec["per_layer"], layers) if args.trace
                      else (spec["end_to_end"], e2e))
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in chosen}
    print(json.dumps({"notes": ctx.notes}), flush=True)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
