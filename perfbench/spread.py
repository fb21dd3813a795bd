"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py run perfbench/results/set1.jsonl --seeds 101-110
    python3 perfbench/spread.py report perfbench/results/set1.jsonl perfbench/results/set2.jsonl

``run`` runs the benchmark command once per workload and seed, untraced,
at ``run_seconds`` from BENCHMARK.json, and appends one line per run:
workload, seed, wall time, the result line, the host-speed stamps and
the wall-time and JIT figures of the diagnostics line.
``report`` prints, per set, each metric's median and its spread (the
distance between the first and third quartile over the median), and
for two sets the second median's change against the first."""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def iqr_share(values) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(out: Path, seed_list) -> None:
    out.parent.mkdir(parents=True, exist_ok=True)
    for w in (w["name"] for w in SPEC["workloads"]):
        for s in seed_list:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [*SPEC["command"], "--workload", w, "--seed", str(s),
                 "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            diag = json.loads(lines[-2])["diagnostics"] if len(lines) > 1 else {}
            rec = {"workload": w, "seed": s, "rc": proc.returncode,
                   "wall_s": round(time.perf_counter() - t0, 1),
                   "host_md5_mb_s": [diag.get(k, {}).get("host_md5_mb_s")
                                     for k in ("before", "after")],
                   "steal_share": diag.get("steal_share"),
                   "wall": diag.get("wall"), "jit_cpu_ms": diag.get("jit_cpu_ms"),
                   "result": json.loads(lines[-1]) if lines else None}
            with out.open("a") as f:
                f.write(json.dumps(rec) + "\n")
            print(w, s, proc.returncode, rec["wall_s"], file=sys.stderr)


def load(path: Path) -> dict:
    """``{workload: {metric: [values]}}`` of the correct runs in a set."""
    vals: dict = defaultdict(lambda: defaultdict(list))
    for line in path.read_text().splitlines():
        rec = json.loads(line)
        res = rec["result"]
        if rec["rc"] != 0 or not res or not res["correct"]:
            print(f"{path.name}: {rec['workload']} seed {rec['seed']} "
                  f"failed or incorrect", file=sys.stderr)
            continue
        for name, m in res["metrics"].items():
            vals[rec["workload"]][name].append(m["value"])
    return vals


def report(paths) -> None:
    sets = [load(p) for p in paths]
    bounds = {m["name"]: m for m in SPEC["end_to_end"]}
    for w in sorted(sets[0]):
        print(w)
        for name, m in bounds.items():
            cols = []
            for vals in sets:
                xs = vals[w][name]
                cols.append(f"median {statistics.median(xs):10.3f} "
                            f"spread {iqr_share(xs):.3f} (n={len(xs)})")
            line = f"  {name:12s} bound {m['bound']:.2f}  " + "  |  ".join(cols)
            if len(sets) == 2:
                a, b = (statistics.median(v[w][name]) for v in sets)
                worse = (b - a) / a * (1 if m["better"] == "lower" else -1)
                line += f"  |  second worse by {worse:+.3f}"
            print(line)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out", type=Path)
    r.add_argument("--seeds", default="1-10")
    p = sub.add_parser("report")
    p.add_argument("sets", type=Path, nargs="+")
    args = ap.parse_args(argv)
    if args.cmd == "run":
        run(args.out, seeds(args.seeds))
    else:
        report(args.sets)
    return 0


if __name__ == "__main__":
    sys.exit(main())
