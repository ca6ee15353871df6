"""Benchmark entry point: one workload, one seed, one measurement window.

    python3 perfbench/run.py --workload tile_pyramid --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. ``--trace 0`` reports
the end-to-end metrics of untraced jobs; ``--trace 1`` reports the
per-layer metrics of traced jobs (and the traced-minus-untraced wall
time). The last line of standard output is one JSON object; everything
the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_JOBS = 2  # timed jobs per run, even when they outlast --seconds
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s", "job_s": "s", "rows_per_s": "1/s",
    "core_util": "ratio", "peak_rss_mb": "MB",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _tree_hwm_mb() -> float:
    """Peak resident set (VmHWM) summed over this process's descendants:
    the driver JVM and its Python workers."""
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    me, total = os.getpid(), 0
    for pid in parent:
        q = parent[pid]
        while q and q != me and q in parent:
            q = parent[q]
        if q != me:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _check(out: dict, ref: dict) -> bool:
    from inputs import digest

    return all(digest(*out[k]) == v for k, v in ref.items())


def _start(W, cores: int):
    from tilecloud_chain_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{W.name}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in W.conf.items():
        spark.conf.set(k, v)
    return spark


def _stop(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "tilecloud_chain_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        _fail("run from the root of a repository checkout (package not found)")
    cache = os.path.join(root, ".perfbench")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    events = os.path.join(cache, "events")
    shutil.rmtree(events, ignore_errors=True)
    submit = f"--driver-java-options -Djava.io.tmpdir={tmp} --conf spark.ui.showConsoleProgress=false"
    if args.trace:
        # the traced run reads the Python-node metrics from the event log
        os.makedirs(events)
        submit += (f" --conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{events}"
                   " --conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false")
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp, "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
        "PYSPARK_SUBMIT_ARGS": submit + " pyspark-shell",
    })
    sys.path[:0] = [HERE, root]

    import inputs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    W = WORKLOADS[args.workload]
    d, summary, ref = inputs.prepare(cache, W.name, args.seed)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(cache, "work", W.name)
    result = (_traced if args.trace else _untraced)(W, d, summary, ref, cores, work, args)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def _setup(W, d, summary, ref, cores, work):
    """Session start and the session's first (cold) job: the session, the
    workload, both durations and whether the job's answer was right."""
    t0 = time.perf_counter()
    spark = _start(W, cores)
    w = W(spark, d, summary)
    t1 = time.perf_counter()
    _, _, out, _ = w.job(work)
    return spark, w, t1 - t0, time.perf_counter() - t1, _check(out, ref)


def _untraced(W, d, summary, ref, cores, work, args) -> dict:
    """Set-up is the session start plus the session's first (cold) job.
    Every later job is a sample; jobs run until --seconds have passed
    since set-up ended and MIN_JOBS samples exist."""
    from counters import StatusReader, run_seconds

    spark, w, start_s, warm_s, ok = _setup(W, d, summary, ref, cores, work)
    reader = StatusReader(spark)
    attempted, failed = 1, int(not ok)
    times, utils, rates, rss = [], [], [], []
    end = time.perf_counter() + args.seconds
    while time.perf_counter() < end or len(times) < MIN_JOBS:
        lo = reader.next_job_id()
        j0 = time.perf_counter()
        _, _, out, rows = w.job(work)
        dt = time.perf_counter() - j0
        hi = reader.next_job_id()
        attempted += 1
        failed += not _check(out, ref)
        times.append(dt)
        rates.append(rows / dt)
        utils.append(run_seconds(reader.snapshot(lo, hi)) / (dt * cores))
        rss.append(_tree_hwm_mb())
    _stop(spark)
    vals = {
        "setup_s": start_s + warm_s,
        "job_s": statistics.median(times),
        "rows_per_s": statistics.median(rates),
        "core_util": statistics.median(utils),
        "peak_rss_mb": max(rss),
    }
    print(f"{W.name} seed={args.seed} cores={cores} jobs={len(times)} "
          f"fail_frac={failed / attempted:.3f} inputs={summary}")
    for k, v in vals.items():
        print(f"  {k:<12} {v:12.4f} {END_TO_END[k]}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}}


def _traced(W, d, summary, ref, cores, work, args) -> dict:
    from counters import LAYERS, PER_LAYER, StatusReader, Tracer, layer_counters
    from inputs import digest

    spark, w, start_s, warm_s, ok = _setup(W, d, summary, ref, cores, work)
    cache = os.path.dirname(os.path.dirname(work))
    log = os.path.join(cache, "events", spark.sparkContext.applicationId + ".inprogress")
    reader = StatusReader(spark, log)
    attempted, failed = 1, int(not ok)

    def untraced_job() -> float:
        nonlocal attempted, failed
        j0 = time.perf_counter()
        _, _, out, _ = w.job(work)
        dt = time.perf_counter() - j0
        attempted += 1
        failed += not _check(out, ref)
        return dt

    w.calibrate(reader)
    # each traced job sits between two untraced ones, so the overhead is
    # not confounded with the JVM still warming up
    end = time.perf_counter() + args.seconds
    untraced = [untraced_job()]
    reps, all_spans = [], []
    while time.perf_counter() < end or not reps:
        tr = Tracer(reader)
        with tr.span("job", None):
            store, job_id, out, _ = w.job(work, tr)
        root = tr.spans[0]
        wall = root["end"] - root["start"]
        attempted += 1
        failed += not _check(out, ref)
        vals, self_s = layer_counters(tr.spans, reader.snapshot(root["job_lo"], root["job_hi"]), cores)
        vals.update({"trace.wall_s": wall, "trace.self_cover": self_s / wall})
        if store is not None:
            vals["checkpoint.store.bytes_written"] = _du(store.root)
            vals["checkpoint.store.bytes_per_input_byte"] = _du(store.root) / w.input_bytes
            before = store.executed
            r0 = time.perf_counter()
            reopened, resumed = w.resume(store, job_id)
            vals["checkpoint.store.resume_s"] = time.perf_counter() - r0
            rerun = store.executed - before
            vals["checkpoint.store.resume_yield"] = len(reopened) / rerun if rerun else 0.0
            key = "stored" if "stored" in out else "admission"
            # the resume must re-execute exactly the reopened stages and
            # reproduce the uninterrupted output
            attempted += 1
            failed += not (rerun == len(reopened) > 0 and digest(*resumed) == digest(*out[key]))
        reps.append(vals)
        all_spans.append(tr.spans)
        untraced.append(untraced_job())
    yields = w.pair_yield()
    reader.close()
    _stop(spark)

    vals = {k: statistics.median(r.get(k, 0.0) for r in reps) for k in PER_LAYER}
    vals.update(yields)
    vals["trace.untraced_s"] = statistics.median(untraced)
    vals["trace.overhead_s"] = vals["trace.wall_s"] - vals["trace.untraced_s"]
    vals["session.start_s"] = start_s
    vals["session.warm_s"] = warm_s
    trace_file = os.path.join(cache, f"trace-{W.name}-s{args.seed}.json")
    with open(trace_file, "w") as f:
        json.dump({"workload": W.name, "seed": args.seed, "cores": cores, "runs": all_spans}, f)
    print(f"{W.name} seed={args.seed} traced runs={len(reps)} layers={len(LAYERS)} "
          f"self_cover={vals['trace.self_cover']:.3f} overhead_s={vals['trace.overhead_s']:.3f}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in vals.items()}}


def _unit(name: str) -> str:
    c = name.rsplit(".", 1)[1]
    if c.endswith("_s"):
        return "s"
    if c.endswith("bytes") or c == "bytes_written":
        return "B"
    if c in ("jobs", "task_retries"):
        return "count"
    return "ratio"


if __name__ == "__main__":
    main()
