#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog_import --seed 1 --seconds 10 --trace 0

One process, one closed-loop client on local[nproc]: set-up (session
start, warm-up, input generation, store seeding) happens before the
first timed op; then ops run back to back for `--seconds` (finishing the
current round of the workload's op cycle); then every op's output is
checked against an independent reference.  The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}, where
metrics are the end-to-end metrics with `--trace 0` and the per-layer
metrics (see tracing.py) with `--trace 1`.  Everything the run writes
stays under `.perfbench_work/` (deleted at exit) and `.perfbench_out/`
(span dumps of traced runs) in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["catalog_import", "catalog_export", "delta_feed", "corpus_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {"nproc": os.cpu_count(), "ram_mb": mem_kb // 1024}


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — a diagnostic only."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def pin_environment(work: str, trace: bool, info: dict) -> None:
    """Every knob the engine reads, set before the JVM starts.  All
    scratch space (Spark local dirs, JVM and Python temp files, the
    cwd-relative spark-warehouse of bucketed staging) lands in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    driver_gb = max(1, min(2, info["ram_mb"] // 1024 // 4))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(info["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(work)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(lat: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples above
    it: (value, percentile, samples beyond).  With fewer than eleven
    samples no such percentile exists and the median stands in."""
    s = sorted(lat)
    n = len(s)
    if n < 11:
        return statistics.median(s), 50.0, n // 2
    return s[n - 11], 100.0 * (n - 10) / n, 10


def run(args, work: str, info: dict) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import tracing
    from dataintegration_ecomprovider_spark import session as session_mod

    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracer.install()

    steal0 = cpu_steal_ticks()
    t0 = time.perf_counter()
    spark = session_mod.get_spark("perfbench")
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        return measure(args, spark, session_s, steal0, info, tracer, work)
    finally:
        stop_jvm(spark)


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit: it serves the Python
    gateway until its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(args, spark, session_s, steal0, info, tracer, work) -> dict:
    import tracing
    import workloads
    from dataintegration_ecomprovider_spark import runtime
    from dataintegration_ecomprovider_spark.plans import publish

    if tracer:
        tracer.attach(spark)

    t0 = time.perf_counter()
    wl = workloads.make(args.workload, spark, os.path.join(work, "wl"), args.seed)
    props = wl.generate()
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.seed_store()
    seed_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + gen_s + seed_s + warmup_s

    lat: list[float] = []
    outs: list = []
    written: list[tuple[int, int]] = []
    errors: list[str] = []
    deadline = time.perf_counter() + args.seconds
    i = 0
    rnd = 0
    while True:
        for _ in range(wl.cycle):
            before = tracing.file_sizes(wl.root)
            t0 = time.perf_counter()
            try:
                # traced runs trace every other round; the rounds between
                # give the untraced baseline for the tracing overhead
                with (tracer.op(i, traced=rnd % 2 == 0) if tracer
                      else contextlib.nullcontext()):
                    out = wl.op(i)
                    runtime.release_caches(spark)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                out = None
                errors.append(traceback.format_exc())
            lat.append(time.perf_counter() - t0)
            if tracer:
                tracer.pull_rest()
            outs.append(out)
            if out is not None:
                wl.observe(i, out)
            after = tracing.file_sizes(wl.root)
            new = [p for p in after if p not in before]
            written.append((sum(after[p] for p in new), len(new)))
            i += 1
        rnd += 1
        # a traced run needs a traced and an untraced round at least
        if time.perf_counter() >= deadline and (not tracer or rnd >= 2):
            break
    run_s = sum(lat)
    steal1 = cpu_steal_ticks()

    # correctness, outside the timed window
    if errors:
        ok = [False] * len(outs)
    else:
        ok = wl.check(outs)
    failed = sum(1 for x in ok if not x)

    wl.finish()
    usage = publish.store_usage(wl.root)
    live = sum((t["bytes"] or 0) for t in usage["tables"].values())
    on_disk = sum(tracing.file_sizes(wl.root).values())
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)

    done = [o for o in outs if o is not None]
    in_rows = sum(o.input_rows for o in done)
    in_bytes = sum(o.input_bytes for o in done)
    p50 = statistics.median(lat)
    tail_v, tail_p, tail_n = tail(lat)
    e2e = {
        "op_p50_s": (p50, "s"),
        "op_tail_s": (tail_v, "s"),
        "rows_per_s": (in_rows / run_s, "1/s"),
        "store_bytes_per_live_byte": (on_disk / live if live else 0.0, "ratio"),
        "peak_rss_mb": (rss, "MB"),
        "setup_s": (setup_s, "s"),
        "bytes_written_per_input_byte": (
            sum(b for b, _ in written) / in_bytes if in_bytes else 0.0, "ratio"),
    }
    extra = {"failed_op_share": (failed / len(outs), "ratio")}
    steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "ops": len(outs), "op_wall_s": run_s,
        "tail_percentile": tail_p, "tail_samples_beyond": tail_n,
        "input_rows": in_rows, "input_bytes": in_bytes,
        "store_on_disk_bytes": on_disk, "store_live_bytes": live,
        "setup": {"session_s": session_s, "generate_s": gen_s, "seed_store_s": seed_s,
                  "warmup_s": warmup_s},
        "inputs": props,
        "host": {**info, "steal_share": steal, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]},
        "errors": errors[:3],
    }
    for name, (v, unit) in {**e2e, **extra}.items():
        print(f"{name} = {v:.6g} {unit}")
    print(f"op_tail_s is p{tail_p:.1f} of {len(outs)} ops ({tail_n} samples beyond)")
    print("report " + json.dumps(report, default=str))

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if tracer:
        metrics = tracer.layer_metrics(
            setup={"session.get_spark.s": session_s, "session.warmup.s": warmup_s,
                   "setup.generate.s": gen_s, "setup.seed_store.s": seed_s},
            extra={**extra,
                   "publish.bytes_written_per_op": (
                       statistics.median(b for b, _ in written), "bytes"),
                   "publish.files_written_per_op": (
                       statistics.median(n for _, n in written), "count")},
            layer=wl.layer_stats(done),
        )
        for name, m in metrics.items():
            print(f"{name} = {m['value']:.6g} {m['unit']}")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"),
                    report)
    return {"correct": failed == 0, "attempted": len(outs), "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dataintegration_ecomprovider_spark")):
        print("perfbench: the engine package is not next to perfbench/; run from a "
              "full checkout", file=sys.stderr)
        return 2
    info = host_info()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        pin_environment(work, bool(args.trace), info)
        result = run(args, work, info)
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
