"""Benchmark command: one seeded, single-client, closed-loop workload
against the package's public API, end-to-end metrics (``--trace 0``) or
per-layer metrics (``--trace 1``) as the last stdout line.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 \\
        --seconds 10 --trace 0

Run it from the repo root; it writes only under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness, stats  # noqa: E402

#: whole op cycles a run measures at the least, whatever ``--seconds``
MIN_CYCLES = 2


def _workloads():
    from perfbench.workloads.corpus_search import CorpusSearch
    from perfbench.workloads.ingest_mixed import IngestMixed

    return {w.name: w for w in (IngestMixed, CorpusSearch)}


def process_age_s() -> float:
    """Seconds since this process started (``/proc`` start time)."""
    ticks = os.sysconf("SC_CLK_TCK")
    start = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start / ticks


def timed_loop(wl, seconds: float, cpu_s, tracer=None):
    """Closed loop: the next op is sent when the previous one returned.
    The loop runs whole op cycles (the workload's fixed mix), at least
    :data:`MIN_CYCLES`, and stops at the first cycle boundary after
    ``seconds``, so every run measures the same mix and every job
    metric covers several jobs.  Checks run outside each op's
    timer and outside the measured wall time.  In a traced run, cycles
    alternate between traced and untraced.  ``cpu_s`` reads the CPU
    seconds of work and of JIT compilation (:func:`harness.cpu_split_s`)."""
    samples = []
    check_s = 0.0
    t0 = time.perf_counter()
    deadline = t0 + seconds
    min_ops = MIN_CYCLES * wl.cycle
    i = 0
    while i % wl.cycle or i < min_ops or time.perf_counter() < deadline:
        op = wl.next_op()
        traced = tracer is not None and (i // wl.cycle) % 2 == 0
        if traced:
            tracer.begin_op(i, op)
        work0, jit0 = cpu_s()
        t = time.perf_counter()
        try:
            res, err = op.run(), None
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            res, err = None, e
        ms = (time.perf_counter() - t) * 1000.0
        work1, jit1 = cpu_s()
        if traced:
            tracer.end_op(ms)
        c = time.perf_counter()
        try:
            ok = err is None and bool(op.check(res))
        except Exception as e:  # noqa: BLE001 — a check that raises fails
            ok, err = False, e
        check_s += time.perf_counter() - c
        if not ok:
            print(f"failed op {i} {op.kind}: {err!r}", file=sys.stderr)
        samples.append({"kind": op.kind, "cls": op.cls, "ms": ms,
                        "cpu_ms": (work1 - work0) * 1000.0,
                        "jit_ms": (jit1 - jit0) * 1000.0, "ok": ok, "traced": traced})
        i += 1
    return samples, time.perf_counter() - t0 - check_s


#: metric classes of the reads and of the batch jobs
READS = ("read", "search")
JOBS = ("maint", "dedup")


def kind_medians(samples, field: str, classes) -> dict:
    """Per op kind of the given classes, the median of ``field``."""
    kinds = sorted({s["kind"] for s in samples if s["cls"] in classes})
    return {k: stats.median([s[field] for s in samples if s["kind"] == k])
            for k in kinds}


def mean_of(samples, field: str, classes=None) -> float:
    """Mean of ``field`` over the ops of the given classes (all ops by
    default).  Every run has the same fixed mix of kinds, and a sum
    does not care which of two neighbouring ops the JVM's asynchronous
    work of the first one lands in, so the mean is steadier here than
    a median of the few ops of one kind."""
    xs = [s[field] for s in samples if classes is None or s["cls"] in classes]
    return sum(xs) / len(xs)


def end_to_end(samples, setup_s, rss_mb) -> dict:
    """The untraced run's metrics; see BENCHMARK.json.  The op metrics
    are the CPU time of the whole process tree without JIT compilation
    (:func:`harness.cpu_split_s`), not wall time: on a shared host the
    wall time of the same op moves with the load of other machines by
    more than any bound worth keeping, the CPU time it costs much less.
    Wall times are in the diagnostics."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "read_cpu_ms": {"value": mean_of(samples, "cpu_ms", READS), "unit": "ms"},
        "job_cpu_s": {"value": mean_of(samples, "cpu_ms", JOBS) / 1000.0,
                      "unit": "s"},
        "op_cpu_ms": {"value": mean_of(samples, "cpu_ms"), "unit": "ms"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def wall_metrics(samples, wall_s, extra: dict) -> dict:
    """Wall-time figures of the run, printed as diagnostics: the same
    means as the end-to-end CPU metrics, plus the figures that exist on
    one workload only."""
    out = {
        "read_ms": mean_of(samples, "ms", READS),
        "job_s": mean_of(samples, "ms", JOBS) / 1000.0,
        "ops_per_s": len(samples) / wall_s,
    }
    writes = [s["ms"] for s in samples if s["kind"] == "write"]
    if extra.get("acked_points") and writes:
        out["ingest_points_per_s"] = extra["acked_points"] / (sum(writes) / 1000.0)
    if extra.get("stored_bytes_per_point"):
        out["stored_bytes_per_point"] = extra["stored_bytes_per_point"]
    return out


def main(argv=None) -> int:
    t_proc = time.perf_counter() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (harness.ROOT / "rhq_metrics_spark").is_dir():
        print("rhq_metrics_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2

    work = Path.cwd() / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    harness.prepare_env(work)
    try:
        return _run(args, workloads[args.workload], work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workload, work: Path, t_proc: float) -> int:
    diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "before": harness.diagnostics()}
    spark = harness.start_spark(work, event_log=bool(args.trace))
    try:
        session_s = time.perf_counter() - t_proc
        wl = workload(spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_proc
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark, wl)
            tracer.install()
        jvm = harness.jvm_pid(spark)
        samples, wall_s = timed_loop(wl, args.seconds,
                                     lambda: harness.cpu_split_s(jvm), tracer)
        if tracer is not None:
            tracer.uninstall()
        extra, n_final, n_final_failed = wl.finish()
        rss_mb = harness.vm_hwm_mb() + harness.vm_hwm_mb(jvm or 0)
    finally:
        harness.stop_spark(spark)

    attempted = len(samples) + n_final
    failed = sum(not s["ok"] for s in samples) + n_final_failed
    if tracer is not None:
        tracer.write_spans(Path.cwd() / ".bench_work" / "spans"
                           / f"{args.workload}-{args.seed}-{os.getpid()}.jsonl")
        metrics = tracer.report(samples, work / "eventlog", extra)
    else:
        metrics = end_to_end(samples, setup_s, rss_mb)
    after = harness.diagnostics()
    diag.update({
        "after": after,
        # share of the machine's CPU time taken by the hypervisor
        # during the run: contention from outside this machine
        "steal_share": (after["steal_ticks"] - diag["before"]["steal_ticks"])
        / max(1, after["cpu_ticks"] - diag["before"]["cpu_ticks"]),
        "session_s": session_s,
        "sizes": wl.sizes(),
        "samples": {k: stats.summarize([s["ms"] for s in samples if s["kind"] == k])
                    for k in sorted({s["kind"] for s in samples})},
        "cpu_ms": kind_medians(samples, "cpu_ms", {s["cls"] for s in samples}),
        # CPU time of the JIT compiler threads, per op: what the CPU
        # metrics leave out
        "jit_cpu_ms": {"read": mean_of(samples, "jit_ms", READS),
                       "job": mean_of(samples, "jit_ms", JOBS),
                       "op": mean_of(samples, "jit_ms")},
        "failed_op_ratio": failed / max(1, attempted),
        "wall": wall_metrics(samples, wall_s, extra),
        "workload_extra": extra,
    })
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
