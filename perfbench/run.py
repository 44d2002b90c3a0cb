"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds its inputs from ``--seed`` under
``.perfbench_work/``, starts the engine's SparkSession on ``local[nproc]``,
runs the workload's ops in a closed loop with one client for ``--seconds``
(and at least two ops) after one cold op, checks every op's output, and prints one JSON object
as the last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` wraps each layer's public functions in spans and
reports the per-layer metrics instead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_WARM_OPS = 2  # so that op_p50_s never rests on a single op


def process_age() -> float:
    """Seconds since this process started (``/proc``)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def children() -> list[int]:
    with open(f"/proc/{os.getpid()}/task/{os.getpid()}/children") as fh:
        return [int(p) for p in fh.read().split()]


class PeakRss:
    """Peak resident memory (``VmHWM``) of this process plus its JVM
    child, over one op: ``reset`` lowers the high-water mark to the
    current RSS, ``read`` returns the sum in MB."""

    def __init__(self):
        self.pids = [os.getpid()] + [
            pid for pid in children() if b"java" in _cmd(pid).split(b"\0")[0]
        ]

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def read(self) -> float:
        total_kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
        return total_kb / 1024


def _cmd(pid: int) -> bytes:
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        return fh.read()


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    kids = children()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def configure_env(work: str) -> None:
    """Pin Spark to the cores this process may use and keep every file
    the run writes inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from perfbench import workloads as W  # noqa: E402

    # The program under test; a checkout without it fails here.
    from scalable_data_ingestion_spark.session import get_spark  # noqa: E402

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    os.chdir(work)  # Spark's own side files (metastore, warehouse dir) land here

    started = process_age() - (time.perf_counter() - T0)
    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    ready = time.perf_counter()
    setup_s = started + (ready - T0)
    get_spark_s = ready - t

    tracer = None
    if args.trace:
        from perfbench.spans import Tracer

        tracer = Tracer(spark)
    wl = W.WORKLOADS[args.workload](spark, work, args.seed, tracer)
    rss = PeakRss()
    try:
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        if tracer:
            wl.trace()
        times: list[float] = []
        failures: list[str] = []
        overheads: list[float] = []
        peaks: list[float] = []
        stored: list[float] = []
        loop_start = 0.0
        i = 0
        while i <= MIN_WARM_OPS or time.perf_counter() - loop_start < args.seconds:
            if i == 1:
                loop_start = time.perf_counter()
            if tracer:
                tracer.op = i
                before = tracer.overhead_s
            rss.reset()
            t = time.perf_counter()
            try:
                times.append(wl.op(i))
                done = True
            except Exception:  # noqa: BLE001 — an op that raises is a failed op
                times.append(time.perf_counter() - t)
                failures.append(f"op {i}: {traceback.format_exc(limit=3)}")
                done = False
            peaks.append(rss.read())
            if done:
                try:
                    wl.check(i)
                    ratio = wl.stored_ratio(i)
                    if ratio is not None:
                        stored.append(ratio)
                except W.CheckFailed as exc:
                    failures.append(f"op {i}: {exc}")
                except Exception:  # noqa: BLE001 — a check that cannot run fails the op
                    failures.append(f"op {i}: check raised {traceback.format_exc(limit=3)}")
            if tracer:
                overheads.append(tracer.overhead_s - before)
            else:
                wl.cleanup(i)
            i += 1
        warm_ops = range(1, len(times))
        layers: list[dict] = []
        probe = {}
        if tracer:
            # Status-store reads between ops slow the ops after them, so the
            # per-layer numbers are read once the loop is over.
            tracer.op = None
            for k in warm_ops:
                try:
                    layer = wl.layers(k, tracer.op_spans(k))
                except Exception:  # noqa: BLE001 — op failed before its spans closed
                    layer = {}
                layer["trace.overhead_s"] = overheads[k]
                layers.append(layer)
            for k in range(len(times)):
                wl.cleanup(k)
            probe = wl.probe()
            tracer.unwrap_all()
            tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
        env = {
            "spark_master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
        }
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t

    attempted = len(times)
    warm = [times[k] for k in warm_ops]
    op_p50 = statistics.median(warm)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_op_s": (times[0], "s"),
        "op_p50_s": (op_p50, "s"),
    }
    print(f"workload={args.workload} seed={args.seed} {env} ops={attempted} warm_samples={len(warm)} "
          f"prepare_s={prepare_s:.2f} stop_s={stop_s:.2f}")
    print("op_s=" + " ".join(f"{t:.3f}" for t in times))
    for f in failures:
        print("FAILED", f)
    # Printed with the bounded metrics but left out of the JSON: see
    # "End-to-end metrics" in README.md.
    shown = {
        "failed_ratio": (len(failures) / attempted, "ratio"),
        "peak_rss_mb": (statistics.median(peaks[k] for k in warm_ops), "MB"),
    }
    if wl.records_per_op:
        shown["records_per_s"] = (wl.records_per_op / op_p50, "1/s")
    if stored:
        shown["stored_bytes_per_input_byte"] = (statistics.median(stored), "ratio")
    for k, (v, u) in shown.items():
        print(f"  {k} = {v:.6g} {u}")
    if tracer:
        units = dict(W.LAYER_METRICS)
        values = {name: statistics.median(op.get(name, 0.0) for op in layers) for name in units}
        values.update(probe)
        values["session.get_spark_s"] = get_spark_s
        values["trace.op_p50_s"] = op_p50
        values["trace.cold_op_s"] = times[0]
        values["process.peak_rss_mb"] = shown["peak_rss_mb"][0]
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
