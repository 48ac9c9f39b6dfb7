"""Diff two traced records layer by layer.

Usage (from the repository root):
    python3 perfbench/diff.py A.json B.json

A and B are records written by a `--trace 1` run of perfbench/run.py
(.bench_build/records/<workload>-s<seed>-t1.json) for the same workload,
typically from the parent commit and from a change. Prints every
per-layer metric and every layer's self time side by side with the
change in percent, then names the layer whose self time moved most
(in seconds) and the count or ratio that moved most (in percent).
"""
import json
import sys


def layer_of(name):
    """`exec.task_run_s` -> `exec`; a span `op:<name>` -> `op`."""
    return "op" if name.startswith("op:") else name.split(".", 1)[0]


def rel(a, b):
    if a == b:
        return 0.0
    return (b - a) / abs(a) * 100.0 if a else float("inf")


def diff(a, b):
    """Rows (metric, a, b, percent) and the verdict lines."""
    rows = []
    for k in sorted(set(a["per_layer"]) | set(b["per_layer"])):
        va, vb = a["per_layer"].get(k, 0.0), b["per_layer"].get(k, 0.0)
        rows.append((k, va, vb, rel(va, vb)))
    selfs = {}
    for rec, i in ((a, 0), (b, 1)):
        for k, v in rec.get("self_s", {}).items():
            selfs.setdefault(layer_of(k), [0.0, 0.0])[i] += v
    self_rows = [(f"self:{k}", va, vb, rel(va, vb))
                 for k, (va, vb) in sorted(selfs.items())]
    verdict = []
    if self_rows:
        k, va, vb, _ = max(self_rows, key=lambda r: abs(r[2] - r[1]))
        verdict.append(f"self time moved most in {k[5:]}: "
                       f"{va:.3f} s -> {vb:.3f} s ({vb - va:+.3f} s)")
    counts = [r for r in rows if not r[0].endswith("_s")
              and r[3] not in (0.0, float("inf"))]
    if counts:
        k, va, vb, p = max(counts, key=lambda r: abs(r[3]))
        verdict.append(f"count or ratio moved most: {k} {va:g} -> {vb:g} ({p:+.1f}%)")
    return rows + self_rows, verdict


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    for rec, p in ((a, argv[1]), (b, argv[2])):
        if "per_layer" not in rec:
            sys.exit(f"{p}: not a traced record (run with --trace 1)")
    if a["workload"] != b["workload"]:
        print(f"warning: workloads differ ({a['workload']} vs {b['workload']})")
    print(f"# {a['workload']}: A seed {a['seed']} rev {a.get('git_rev')}"
          f" | B seed {b['seed']} rev {b.get('git_rev')}")
    print(f"  {'pass_s':<44} {a['pass_s']:12.4f} {b['pass_s']:12.4f}"
          f" {rel(a['pass_s'], b['pass_s']):+8.1f}%")
    rows, verdict = diff(a, b)
    for k, va, vb, p in rows:
        print(f"  {k:<44} {va:12.4f} {vb:12.4f} {p:+8.1f}%")
    for line in verdict:
        print(line)


if __name__ == "__main__":
    main(sys.argv)
