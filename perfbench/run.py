"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 20 --trace 0

Runs one workload from the root of a checkout and prints, as its last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1`` (names in BENCHMARK.json,
definitions in perfbench/README.md). Every file the run writes lives in
a fresh directory under ``.bench_run/`` that is removed at exit, and
every process the run starts (the Spark JVM, its Python workers) has
ended before the run exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _become_subreaper() -> None:
    """Make orphaned descendants (a Python worker whose JVM has exited)
    children of this process, so that ``_stop_children`` can wait for them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    """Live processes below this one, found through /proc parent links."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] != "Z":  # zombies are reaped below, not signalled
            parent[int(entry)] = int(fields[1])
    found, frontier = [], {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        found.extend(frontier)
    return found


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_children(grace_s: float = 30.0) -> None:
    """End every process this run started and wait for each.

    The Spark JVM exits by itself when its stdin pipe closes; whatever
    is still alive after ``grace_s`` gets SIGTERM, then SIGKILL."""
    try:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
    except ImportError:
        gateway = None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass  # the JVM is gone already
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(grace_s)
            except Exception:
                pass
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + 10.0
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; one of {names}")

    run_dir = os.path.join(
        ROOT, ".bench_run", f"{args.workload}-{os.getpid()}-{time.time_ns()}"
    )
    os.makedirs(os.path.join(run_dir, "tmp"))
    # scratch of the engine, Python and the JVM stays inside the run dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    _become_subreaper()
    try:
        result = _run(args, run_dir)
    finally:
        _stop_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still holds its directory
    if args.trace:
        # a layer off the workload's path reads 0
        values = {m["name"]: result["metrics"].get(m["name"], 0.0) for m in spec["per_layer"]}
        wanted = spec["per_layer"]
    else:
        values = result["metrics"]
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
    }
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


def _run(args, run_dir: str) -> dict:
    # the engine import fails in a directory without the engine, before
    # any result is printed
    import cdc_spark  # noqa: F401

    from perfbench import cdc_tail, query_mix
    from perfbench.common import Ctx, start_session
    from perfbench.trace import Tracer, event_log_conf

    workload = {"cdc_tail": cdc_tail, "query_mix": query_mix}[args.workload]
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    extra = {}
    log_dir = os.path.join(run_dir, "eventlog")
    if ctx.trace:
        ctx.tracer = Tracer()
        extra.update(event_log_conf(log_dir))
    spark = start_session(ctx, extra)
    try:
        result = workload.run(ctx)
    finally:
        spark.stop()
    if ctx.trace:
        layers = workload.layer_metrics(ctx, result["layer_inputs"], log_dir)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.dump(
            os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        )
        result["metrics"] = layers
    return result


if __name__ == "__main__":
    raise SystemExit(main())
