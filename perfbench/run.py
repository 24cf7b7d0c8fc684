"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One fresh Spark driver on
``local[<nproc>]`` per run; inputs are generated from ``--seed``; the
timed window is a closed loop with one client.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  The line before it carries run conditions, timing
summaries with sample counts and every check's detail.  All scratch
files live under ``.perfbench_work/`` in the checkout and are deleted on
exit: the benchmark reads and writes nothing outside its checkout, so
Spark's local dir is not the package's tmpfs default.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

from procstat import MemSampler, cpu_times, descendants, steal_share

WORK_DIR = ".perfbench_work"
# The driver heap is fixed and pre-touched at start (session.py sets
# -Xms = -Xmx with -XX:+AlwaysPreTouch), so it is resident for the whole
# run.  2 GB holds these inputs; the package's 8 GB default would pin
# 8 GB of a small host's memory for every run.
DRIVER_HEAP_MB = 2048
MAX_FAILED_OPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---- environment and session ----------------------------------------------


def configure_env(root: str, work: str) -> None:
    """Keep every file Spark and Python write inside ``work``; pin the
    package's own defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark_local")
    os.environ["SPARK_DRIVER_MEMORY"] = f"{DRIVER_HEAP_MB}m"
    os.environ["SPARK_GRAFT_EXTRA_JAVA"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    for knob in ("DOCS2KG_OVERLAP_META", "DOCS2KG_PAIRED_WRITES"):
        os.environ.pop(knob, None)
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, root)


def start_spark(work: str, workload: str, trace: bool):
    from docs2kg_spark.session import get_spark
    from spans import TRACE_CONF

    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update(TRACE_CONF)
    spark = get_spark(app_name=f"perfbench-{workload}", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until every process
    this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        reap_descendants()


def reap_descendants(grace_s: float = 30.0) -> None:
    deadline = time.monotonic() + grace_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(os.getpid())
        if not left:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(1.0)


def fingerprint(obj) -> str:
    return hashlib.blake2b(repr(obj).encode(), digest_size=16).hexdigest()


# ---- one run --------------------------------------------------------------


def per_layer_units(root: str) -> dict[str, str]:
    """name -> unit of every per-layer metric BENCHMARK.json lists."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run(args, work: str) -> tuple[dict, dict]:
    """→ (result line, detail line)."""
    import workloads
    from stats import timing_summary

    cls = workloads.WORKLOADS.get(args.workload)
    if cls is None:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")

    t = time.monotonic()
    spark = start_spark(work, args.workload, bool(args.trace))
    session_s = time.monotonic() - t
    try:
        wl = cls(spark, work, args.seed)
        t, c = time.monotonic(), time.process_time()
        inputs = wl.generate()
        gen_s, gen_cpu_s = time.monotonic() - t, time.process_time() - c
        input_digest = fingerprint(inputs)
        t = time.monotonic()
        wl.prepare(inputs)
        prepare_s = time.monotonic() - t
        setup_s = session_s + gen_s + prepare_s

        op_times: list[float] = []
        op_cpu: list[float] = []
        items = 0
        attempted = failed = 0
        if args.trace:
            metrics = wl.traced()  # made per-layer metrics in main()
            attempted += 1
        else:
            t_win = time.monotonic()
            i = 0
            while time.monotonic() - t_win < args.seconds and failed < MAX_FAILED_OPS:
                attempted += 1
                try:
                    dt, cpu, n = wl.op(i)
                    op_times.append(dt)
                    op_cpu.append(cpu)
                    items += n
                except Exception:
                    traceback.print_exc()
                    failed += 1
                i += 1
            window_s = time.monotonic() - t_win
        try:
            wl.check()
        except Exception as exc:
            traceback.print_exc()
            wl.checks.add("check_ran", False, error=repr(exc))
    finally:
        stop_spark(spark)

    attempted += len(wl.checks.results)
    failed += wl.checks.failed
    detail = {
        "error_rate": failed / attempted,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup": {"session_s": session_s, "gen_s": gen_s, "prepare_s": prepare_s, "setup_s": setup_s},
        "generator_cpu_s": gen_cpu_s,
        "input_digest": input_digest,
        "checks": wl.checks.results,
        "extra": wl.extra,
    }
    if not args.trace:
        if not op_times:
            raise RuntimeError("no operation succeeded")
        summary = timing_summary(op_times)
        rate = items / sum(op_times)
        detail["window_s"] = window_s
        detail["op_times_s"] = op_times
        detail["op_cpu_s"] = op_cpu
        detail["named"] = {
            wl.names["p50"]: summary["p50"],
            wl.names["rate"]: rate,
            "samples": summary["n"],
        }
        if wl.names["tail"]:
            detail["named"][wl.names["tail"]] = summary["tail"]
            detail["named"]["tail_percentile"] = summary["tail_pct"]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": summary["p50"], "unit": "s"},
            "op_cpu_s": {"value": statistics.median(op_cpu), "unit": "s"},
            "items_per_s": {"value": rate, "unit": "1/s"},
        }
    result = {"correct": wl.checks.failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and deletes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    root = os.getcwd()
    conditions = {"loadavg_1m": os.getloadavg()[0], "nproc": len(os.sched_getaffinity(0))}
    c0 = cpu_times()
    time.sleep(0.25)
    c1 = cpu_times()
    conditions["steal_share_at_start"] = steal_share(c0, c1)

    work = os.path.join(root, WORK_DIR, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    sampler = MemSampler(DRIVER_HEAP_MB << 20)
    try:
        configure_env(root, work)
        sampler.start()
        result, detail = run(args, work)
    finally:
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_DIR))
        except OSError:
            pass
    conditions["steal_share_run"] = steal_share(c1, cpu_times())
    detail["conditions"] = conditions
    memory = {f"memory.{k}_mb": v / (1 << 20) for k, v in sampler.peaks.items() if k != "processes"}
    memory["memory.peak_pss_mb"] = sampler.peak / (1 << 20)
    memory["memory.processes"] = sampler.peaks["processes"]
    detail["memory"] = memory
    if args.trace:
        raw = {**result["metrics"], **memory}
        result["metrics"] = {
            name: {"value": float(raw.pop(name, 0.0)), "unit": unit}
            for name, unit in per_layer_units(root).items()
        }
        detail["per_layer_not_in_benchmark_json"] = raw
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
