"""Product-path benchmark: one workload per process, printed as one JSON line.

    python3 perfbench/run.py --workload tebis_backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine package is imported from the
directory above this one. Everything the run writes goes under
``.bench_work/<workload>-<pid>/`` in that directory (Spark's scratch
dirs and the JVM's temp dir included) and is removed at exit, once the
JVM and every process below it have ended; a traced run also leaves
its spans in ``.bench_out/``.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Per-operation figures go to stderr. The exit
code is 0 when every check held apart from the replay fault (see
README.md), 1 when some other check failed, 2 when the engine package
cannot be imported.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "read_p50_s": "s",
    "store_bytes_per_item": "B",
    "heap_after_gc_mb": "MB",
}


def log(**fields) -> None:
    print(json.dumps(fields), file=sys.stderr, flush=True)


class Context:
    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer = None


def start_spark(work: Path, cores: int):
    from datapoints_csv_extractor_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` (zombies too), read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"


def become_subreaper() -> None:
    """Have processes orphaned below this one (the JVM launcher's helper
    shells, Python workers whose JVM has gone) re-parented to this
    process, so that ``stop_spark`` can reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap() -> None:
    """Collect every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark(spark) -> None:
    """Stop the session (if one was started), then the JVM and every
    process below this one, and wait until each has ended.
    ``spark.stop()`` alone leaves the JVM up until this process exits;
    the JVM then sees its stdin close and exits on its own, after this
    process is gone. Whatever is still running 30 s after the JVM has
    ended is killed."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            jvm = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            jvm.stdin.close()  # the gateway server exits on EOF
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + 30
        while True:
            reap()
            left = [p for p in descendants(os.getpid()) if _alive(p)]
            if not left:
                break
            if time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.05)


def heap_after_gc_mb(spark) -> float:
    """Heap in use after full GCs. Python's collector runs first so py4j
    releases the JVM objects it still references. Spark's context cleaner
    frees broadcasts and cached blocks only after the GC that finds their
    handles dead, so the heap settles over a few GC rounds: GC every
    0.5 s until three readings in a row agree within 1%."""
    import gc

    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()
    readings = []
    for _ in range(16):
        jvm.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        last = readings[-3:]
        if len(last) == 3 and max(last) <= 1.01 * min(last):
            break
        time.sleep(0.5)
    return min(readings[-3:])


def run(args) -> dict:
    import workloads
    from telemetry import Tracer

    cls = {c.name: c for c in (workloads.TebisBackfill, workloads.TebisLive,
                               workloads.CorpusShards)}[args.workload]
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    ctx = Context(args.seed, work)
    become_subreaper()
    try:
        ctx.spark = start_spark(work, cls.cores)
        ctx.tracer = Tracer(ctx.spark, enabled=bool(args.trace))
        wl = cls(ctx)
        for mod, fn in wl.spans:
            ctx.tracer.wrap(mod, fn)
        ctx.tracer.begin_outside()
        return drive(args, ctx, wl)
    finally:
        try:
            stop_spark(ctx.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def drive(args, ctx: Context, wl) -> dict:
    import layer_metrics
    from workloads import CheckFailed

    tracer = ctx.tracer
    wl.setup()
    for i in range(wl.warmup):
        t = time.perf_counter()
        r = wl.op(warmup=True)
        log(phase="warmup", i=i, op_s=r.seconds, read_s=r.read_s,
            wall_s=time.perf_counter() - t)
    tracer.count_unattributed()
    tracer.unattributed_jobs = 0

    setup_s = time.perf_counter() - T0
    timed_start = time.perf_counter()
    results, figures, failures = [], [], []
    attempted = failed = 0
    rounds = 0
    while True:
        round_start = time.perf_counter()
        for _ in range(wl.round_ops):
            attempted += 1
            tracer.op = len(results)
            n_spans = len(tracer.spans)
            try:
                r = wl.op()
            except CheckFailed as exc:
                failed += 1
                failures.append(str(exc))
                log(phase="timed", error=str(exc))
                continue
            finally:
                tracer.op = None
            results.append(r)
            if tracer.enabled:
                roots = [s for s in tracer.spans[n_spans:] if s.parent is None]
                figures.append(layer_metrics.op_figures(tracer, roots, r))
            log(phase="timed", i=len(results) - 1, op_s=r.seconds,
                read_s=r.read_s, items=r.items)
            tracer.count_unattributed()
        attempted += wl.replays_per_round
        try:
            wl.end_of_round()
        except CheckFailed as exc:  # the replay fault; see README.md
            failed += 1
            log(phase="end_of_round", known_fault=str(exc))
        tracer.count_unattributed()
        rounds += 1
        round_s = time.perf_counter() - round_start
        if time.perf_counter() - timed_start + round_s > args.seconds:
            break

    heap = heap_after_gc_mb(ctx.spark)
    try:
        wl.final_checks()
    except CheckFailed as exc:
        failures.append(str(exc))
        log(phase="final_checks", error=str(exc))
    correct = not failures
    if not results:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}

    if args.trace:
        metrics = layer_metrics.collect(tracer, figures, results)
        (ROOT / ".bench_out").mkdir(exist_ok=True)
        tracer.dump(ROOT / ".bench_out" / f"spans_{wl.name}_seed{args.seed}.json")
    else:
        ops = [r.seconds for r in results]
        items = sum(r.items for r in results)
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(ops),
            "items_per_s": items / sum(ops),
            "read_p50_s": statistics.median(r.read_s for r in results),
            "store_bytes_per_item": sum(r.store_bytes for r in results) / items,
            "heap_after_gc_mb": heap,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    log(phase="done", ops=len(results), rounds=rounds,
        timed_s=time.perf_counter() - timed_start, total_s=time.perf_counter() - T0)
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["tebis_backfill", "tebis_live", "corpus_shards"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    # A SIGTERM unwinds through run()'s cleanup like an exception would.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(ROOT))
    try:
        import datapoints_csv_extractor_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not found next to {HERE}: {exc}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
