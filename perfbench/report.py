"""Print the layer split of traced runs.

    python3 perfbench/report.py [perfbench/.out/trace-*.json ...]

For each trace file: self time per layer (span time minus the time of its
child spans), the Catalyst phases, codegen and executor figures per op, and
every ratio with its numerator and base.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import self_times  # noqa: E402


def _sum(ops, key, sub=None) -> float:
    total = 0.0
    for o in ops:
        v = o.get(sub, {}) if sub else o
        total += v.get(key, 0.0) or 0.0
    return total


def report(path: str) -> None:
    with open(path) as fh:
        data = json.load(fh)
    meta, spans = data["meta"], data["spans"]
    ops = [o for o in meta["ops"] if "exec" in o]
    n = len(ops)
    print(f"== {meta['workload']} seed={meta['seed']}  traced ops={n}  env={meta['env']}")
    print("  self time per layer (s, total / per op):")
    for name, secs in sorted(self_times(spans).items(), key=lambda kv: -kv[1]):
        print(f"    {name:24s} {secs:9.3f} {secs / n:9.4f}")

    phases: dict[str, float] = {}
    for o in ops:
        for k, v in o.get("phases", {}).items():
            phases[k] = phases.get(k, 0.0) + v
    print("  catalyst phases (s, total):", {k: round(v, 3) for k, v in sorted(phases.items())})
    wall = _sum(ops, "wall_s")
    jobs = _sum(ops, "jobs_wall_s", "exec")
    cpu = _sum(ops, "task_cpu_s", "exec")
    cores = meta["env"]["nproc"]
    print(f"  op wall {wall:.3f} s = jobs wall {jobs:.3f} s + driver self {wall - jobs:.3f} s")
    print(f"  codegen: {_sum(ops, 'codegen_classes'):.0f} classes in {_sum(ops, 'codegen_s'):.3f} s")
    print(f"  exec.cpu_util = task cpu {cpu:.3f} s / (jobs wall {jobs:.3f} s x {cores} cores)"
          f" = {cpu / (jobs * cores) if jobs else 0.0:.3f}")

    reads = [s for s in spans if s["name"] == "engine.read_table"]
    hits = sum(s["hit"] for s in reads)
    print(f"  engine.read_table_hit_ratio = {hits} same-object returns / {len(reads)} calls")

    print("  shuffle records per output row, per op name (records / rows):")
    per_name: dict[str, list[float]] = {}
    for o in ops:
        acc = per_name.setdefault(o["name"], [0.0, 0.0])
        acc[0] += o["exec"]["shuffle_records"]
        acc[1] += o["rows"]
    for name, (rec, rows) in sorted(per_name.items()):
        print(f"    {name:28s} {rec:12.0f} / {rows:9.0f} = {rec / max(rows, 1):10.2f}")

    reads_amp = [o for o in ops if "read_amp" in o]
    if reads_amp:
        last = reads_amp[-1]
        print(f"  policies at last traced read: files={last['files_on_disk']}"
              f" read_amp={last['read_amp']:.3f} (rows stored / rows FINAL returns)"
              f" storage_amp={last['storage_amp']:.3f} (bytes on disk / compacted bytes)")
    m = meta["metrics"]
    print(f"  policies.write_amp = {m['policies.write_amp']:.3f} (bytes written / user bytes)")
    passes = meta["passes"]
    t = [p["wall_s"] for p in passes[1:] if p["traced"]]
    u = [p["wall_s"] for p in passes[1:] if not p["traced"]]
    print(f"  trace.overhead_frac = {m['trace.overhead_frac']:.4f}"
          f" (traced warm passes {[round(x, 3) for x in t]} s vs untraced {[round(x, 3) for x in u]} s)")


def main(argv: list[str]) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    paths = argv or sorted(glob.glob(os.path.join(here, ".out", "trace-*.json")))
    if not paths:
        print("no trace files; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    for p in paths:
        report(p)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
