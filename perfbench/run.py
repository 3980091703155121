"""Closed-loop benchmark of pandera_unified_validator_spark's public API.

    python3 perfbench/run.py --workload table_audit --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --smoke          # both workloads, tiny sizes

One client, one process, one Spark session at ``local[<threads>]`` (at most
two task threads); each public call starts only after the previous one
returned. A run sets up its inputs several times (session start plus writing
the seeded Parquet inputs) and reports the median as ``setup_s``, warms up,
then repeats the workload's iteration for ``--seconds``. ``seq_per_s`` is the
input's rows divided by the sum, over the iteration's calls, of each call's
median wall time. Every output is checked; a call that raises or fails a
check counts into ``failed`` (``failed_op_share`` = failed / attempted).
With ``--trace 1`` every other iteration is traced and the per-layer numbers
are printed instead of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / "_work"

SETUPS = 3             # set-ups per run; setup_s is their median
DRIVER_MEMORY = "3g"   # below the RAM of a small host; the package default is 24g
# Spark task threads and GC threads. On a 4-vCPU shared host, local[4] ran
# 26% slower while two busy-looping processes shared the host, local[2] 4%
# slower (and 10% slower than local[4] on an idle host): with spare vCPUs
# for the driver, JIT and Python, a neighbour's load barely reaches the
# closed loop. The inputs are a few files, so more threads buy little.
THREADS = 2


def _threads() -> int:
    return min(THREADS, len(os.sched_getaffinity(0)))


def use_run_dir(run_dir: Path) -> None:
    """Point every scratch location of the run (Python and JVM temp files,
    Spark local dirs) into ``run_dir`` and size the driver. Every JVM the run
    starts, the launcher included, skips the perf-data file it would
    otherwise keep in the system temp directory."""
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ.update(
        TMPDIR=str(run_dir / "tmp"),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        PUV_DRIVER_MEMORY=DRIVER_MEMORY,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}",
    )


class Session:
    """Owns the Spark session and the JVM behind it; ``close`` stops the JVM
    and waits for it and every process it started."""

    def __init__(self, work: Path) -> None:
        self.work = work
        self.spark = None

    def restart(self):
        from pandera_unified_validator_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        threads = _threads()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{threads}]",
            extra_conf={
                # JVM options apply when the first session launches the JVM.
                # ParallelGC as the package sets it, one GC thread per task
                # thread. C1 only: with C2 on a 4-core host, runs of one seed
                # split into fast and slow modes (up to 2x JVM CPU per iteration,
                # about 25% apart in wall time) depending on when hot methods
                # got C2-compiled; C1-only runs agree within a few percent.
                "spark.driver.extraJavaOptions": (
                    f"-XX:+UseParallelGC -XX:ParallelGCThreads={threads} "
                    "-XX:TieredStopAtLevel=1"
                ),
                "spark.local.dir": str(self.work / "local"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and gw.proc is not None else None

    def close(self) -> None:
        from pyspark import SparkContext

        pid = self.jvm_pid()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        children = _descendants(pid) if pid else []
        gw.shutdown()
        proc = gw.proc
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _wait_gone(children)


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (read from /proc)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    os.kill(p, 9)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _peak_rss_mib(jvm_pid: int | None) -> float:
    kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kib += int(line.split()[1])
    return kib / 1024.0


def bench(session: Session, wl, *, seconds: float, trace: bool, setups: int, warmups: int) -> dict:
    """Set up ``setups`` times, warm up, measure; returns the result record."""
    from pandera_unified_validator_spark import operator_cache_scope

    from spans import Tracer
    from workloads import WORKLOADS, CallFailed, Calls

    setup_walls = []
    for _ in range(setups):
        t0 = time.perf_counter()
        spark = session.restart()
        wl.setup(spark)
        setup_walls.append(time.perf_counter() - t0)

    calls = Calls(Tracer(spark) if trace else None)
    walls = {False: [], True: []}     # iteration walls by traced / untraced
    call_walls: dict[str, list[float]] = {}   # untraced measured walls per call
    leaked_max = 0
    deadline = None
    n = 0
    while True:
        measuring = n >= warmups
        if measuring and deadline is None:
            deadline = time.perf_counter() + seconds
        if (
            deadline is not None
            and time.perf_counter() >= deadline
            and (calls.failed or (walls[False] and (walls[True] or not trace)))
        ):
            break
        calls.iteration, calls.walls = n, {}
        calls.traced = trace and measuring and len(walls[True]) <= len(walls[False])
        ok = True
        with operator_cache_scope():
            try:
                wl.iterate(spark, calls)
            except CallFailed:
                ok = False
        leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
        calls.expect(wl.spans[-1], leaked == 0, f"{leaked} persistent RDDs after the iteration")
        if measuring:
            leaked_max = max(leaked_max, leaked)
            if ok:
                walls[calls.traced].append(sum(calls.walls.values()))
                if not calls.traced:
                    for span, wall in calls.walls.items():
                        call_walls.setdefault(span, []).append(wall)
        n += 1

    # a call's median over the run shrugs off a stall that hit one of its
    # samples; summing per-call medians keeps every call's share
    per_call = sum(statistics.median(v) for v in call_walls.values())
    e2e = {
        "seq_per_s": wl.rows / per_call if per_call else 0.0,
        "setup_s": statistics.median(setup_walls),
    }
    result = {
        "workload": wl.name,
        "iteration_walls": walls,
        "setup_walls": setup_walls,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "problems": calls.problems,
        "end_to_end": e2e,
    }
    if trace:
        tracer = calls.tracer
        layer = tracer.medians(tuple(s for w in WORKLOADS.values() for s in w.spans))
        layer.update(wl.derived(tracer))
        layer["cache.leaked_rdds"] = leaked_max
        layer["peak_rss_mb"] = _peak_rss_mib(session.jvm_pid())
        if walls[True] and walls[False]:
            layer["trace.overhead_s"] = (
                statistics.median(walls[True]) - statistics.median(walls[False])
            )
        result["per_layer"] = layer
        result["spans"] = tracer.spans
    return result


def _report(result: dict, trace: bool, units: dict[str, str]) -> dict:
    """Print the readable summary and return the contract's result line.
    ``units`` lists every metric of the chosen kind in BENCHMARK.json order; a
    span or derived metric the workload never produces reads 0."""
    att, fail = result["attempted"], result["failed"]
    w = result["iteration_walls"]
    print(
        f"{result['workload']}: {len(w[False]) + len(w[True])} measured iterations, "
        f"{att} calls attempted, {fail} failed, failed_op_share {fail / max(att, 1):.4f}"
    )
    print("  set-up walls (s): " + " ".join(f"{x:.3f}" for x in result["setup_walls"]))
    for traced, label in ((False, "untraced"), (True, "traced")):
        if w[traced]:
            print(f"  {label} iteration walls (s): " + " ".join(f"{x:.3f}" for x in w[traced]))
    for p in result["problems"]:
        print(f"  check failed: {p}", file=sys.stderr)
    measured = result["per_layer"] if trace else result["end_to_end"]
    metrics = {k: measured.get(k, 0) for k in units}
    for k, v in metrics.items():
        print(f"  {k:<48} {v:>14.6g} {units.get(k, '')}")
    return {
        "correct": fail == 0,
        "attempted": max(att, 1),
        "failed": fail,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    }


def _units(trace: bool) -> dict[str, str]:
    """Metric name → unit of the end-to-end or per-layer list in BENCHMARK.json."""
    d = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in d["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="all workloads at tiny sizes")
    args = ap.parse_args(argv)

    run_dir = WORK / f"run-{os.getpid()}"
    sys.path.insert(0, str(ROOT))
    try:
        import workloads  # imports the package from the checkout
    except ImportError as e:
        print(f"perfbench: cannot import the package under {ROOT}: {e}", file=sys.stderr)
        return 2
    names = list(workloads.WORKLOADS) if args.smoke else [args.workload]
    if None in names or not set(names) <= set(workloads.WORKLOADS):
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    use_run_dir(run_dir)
    units = _units(bool(args.trace))
    session = Session(run_dir)
    lines = []
    try:
        for name in names:
            sizes = (workloads.SMOKE_SIZES if args.smoke else workloads.SIZES)[name]
            wl = workloads.WORKLOADS[name](args.seed, str(run_dir / name), **sizes)
            result = bench(
                session,
                wl,
                seconds=0 if args.smoke else args.seconds,
                trace=bool(args.trace),
                setups=1 if args.smoke else SETUPS,
                warmups=1 if args.smoke else wl.WARMUPS,
            )
            if args.trace:
                path = WORK / f"spans-{name}-seed{args.seed}.json"
                path.write_text(json.dumps(result["spans"]))
            lines.append(_report(result, bool(args.trace), units))
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.smoke:
        ok = all(line["correct"] for line in lines)
        print(json.dumps({
            "correct": ok,
            "attempted": sum(line["attempted"] for line in lines),
            "failed": sum(line["failed"] for line in lines),
            "metrics": {},
        }))
        return 0 if ok else 1
    print(json.dumps(lines[0]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
