"""Run one benchmark workload from a seed and print its record.

Usage (from the repository root):
    python3 perfbench/run.py --workload query_floor --seed 1 --seconds 20 --trace 0

Steps: build the engine and the harness (perfbench/build.py), generate
the workload's inputs from the seed (perfbench/gen.py), run the harness in
one JVM (perfbench/src/PerfBench.scala), check the outputs
(perfbench/check.py), and print one JSON line as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics, preceded by a per-layer table.
The full record (stamps, per-operation times, mismatches, spans) is
written to .bench_build/records/.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

DEADLINE_S = 160


def load_json(path):
    with open(path) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, pct=90):
    """Nearest-rank op latency at `pct`: (value, percentile, samples
    beyond it). A run has 3 to 22 operations, fewer than the eleven a
    percentile with ten samples beyond it needs, so the record states how
    many samples lie beyond the reported one."""
    s = sorted(xs)
    i = max(0, -(-pct * len(s) // 100) - 1)
    return s[i], pct, len(s) - 1 - i


def self_times(spans):
    """Self time per span name: its duration minus the part of that
    interval its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], end), c["end_ns"]
            if b > a:
                covered += b - a
                end = b
        dur = s["end_ns"] - s["start_ns"] - covered
        out[s["name"]] = out.get(s["name"], 0.0) + dur / 1e9
    return out


def span_stats(spans, name):
    ds = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
          if s["name"] == name]
    return sum(ds), len(ds)


def steal_ticks():
    """Host steal time (clock ticks) of the machine: a run that other
    guests slowed shows a large delta in its record."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


def git_rev():
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=5).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def per_layer(h, spans, best, pass_s):
    """Per-layer metrics of a traced run's pass `best` (the pass pass_s
    reports); `spans` are that pass's spans."""
    L = h["layers"][best]
    g = lambda k: L.get(k, 0.0)  # noqa: E731
    out = {}
    out["queries.build_s"] = span_stats(spans, "queries.build")[0]
    out["queries.build_jobs"] = g("queries.build_jobs")
    out["queries.barriers"] = g("queries.barriers")
    for k in ("analysis", "optimization", "planning"):
        out[f"plans.{k}_s"] = g(f"plans.{k}_s")
    out["plans.exchanges"] = g("plans.exchanges")
    out["plans.broadcasts"] = g("plans.broadcasts")
    out["functions.codegen_compiles"] = g("functions.codegen_compiles")
    out["functions.codegen_compile_s"] = g("functions.codegen_compile_s")
    for k in ("jobs", "stages", "tasks", "sched_delay_s", "task_run_s",
              "task_cpu_s", "task_deser_s", "gc_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
              "task_failures"):
        out[f"exec.{k}"] = g(f"exec.{k}")
    out["exec.tasks_per_stage"] = g("exec.tasks") / max(1.0, g("exec.stages"))
    out["exec.core_util"] = g("exec.task_run_s") / (pass_s * h["cores"])
    out["io.ingest_s"] = span_stats(spans, "io.ingest")[0]
    out["io.write_s"] = span_stats(spans, "io.write")[0]
    for k in ("bytes_written_mb", "files_written", "staged_builds",
              "staged_hits"):
        out[f"io.{k}"] = g(f"io.{k}")
    for k in ("curate", "serve", "denormalize"):
        out[f"pipelines.{k}_s"] = span_stats(spans, f"pipelines.{k}")[0]
    m = h.get("medallion") or {}
    out["clean.rows_dropped"] = sum(
        a[0][1] - a[-1][1] for a in (m.get("wdi_audit"), m.get("co2_audit"))
        if a)
    for k in ("append", "update", "upsert", "delete", "compact", "asof",
              "scan_pruned", "count_fast", "history"):
        tot, cnt = span_stats(spans, f"versioned.{k}")
        out[f"versioned.{k}_s"] = tot / cnt if cnt else 0.0
    rw = [m[k] for k in ("rewrite.update", "rewrite.upsert", "rewrite.delete")
          if k in m]
    out["versioned.files_rewritten"] = sum(
        h_[4] for h_ in m.get("history", [])
        if h_[1] in ("UPDATE", "MERGE", "DELETE"))
    out["versioned.log_entries"] = m.get("history_rows", 0)
    tf = m.get("table_files", 0)
    out["versioned.pruned_file_frac"] = (
        1.0 - m.get("scan_files", 0) / tf if tf else 0.0)
    changed = sum(r["changed_bytes"] for r in rw)
    out["versioned.rewrite_bytes_per_changed_byte"] = (
        sum(r["added_bytes"] for r in rw) / changed if changed else 0.0)
    # build, planning phases and codegen compiles, each instant counted
    # once (they overlap: eager work inside fn plans and compiles)
    out["share.fixed"] = g("fixed_s") / pass_s
    out["share.task_run"] = g("exec.task_run_s") / pass_s
    out["trace.overhead_s"] = h["trace_overhead_s"]
    return out


def verify(workload, cfg, info, h, inputs, work):
    """Check one run's outputs. Returns (attempted, failed, errors,
    mismatches): an operation that threw, or whose output disagrees with
    the check, counts as failed in every pass it ran."""
    import check  # duckdb and pandas load slowly; only once the JVM is done
    ops = [o for p_ in h["passes"] for o in p_["ops"]]
    errors = sorted({(o["name"], o["error"]) for o in ops if not o["ok"]})
    if workload == "medallion":
        mismatches = check.check_medallion(
            h["medallion"], info["truth"], os.path.join(inputs, "landing"),
            cfg["top_k"])
    else:
        good = [n for n in cfg["ops"]
                if all(o["ok"] for o in ops if o["name"] == n)]
        mismatches = check.check_queries(
            inputs, os.path.join(work, "results"), h["oracles"], good)
    bad = {n for n, _ in errors} | {n for n, _ in mismatches}
    failed = sum(1 for o in ops if o["name"] in bad)
    return len(ops), failed, errors, mismatches


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    cfgs = load_json(os.path.join(HERE, "workloads.json"))
    if args.workload not in cfgs:
        sys.exit(f"unknown workload {args.workload}")
    cfg = cfgs[args.workload]
    load_start = os.getloadavg()
    steal_start = steal_ticks()
    staged_env = os.environ.get("SPARK_GRAFT_STAGE_DIR")
    overrides = {k: v for k, v in os.environ.items()
                 if k.startswith("SPARK_GRAFT_Q")}

    build.build()  # raises when the engine sources are missing
    # a run may take 180 s; the build before the first run has its own budget
    t_start = time.time()

    build_dir = build.BUILD
    work = os.path.join(build_dir, "runs",
                        f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = os.path.join(work, "inputs")
    import gen  # noqa: E402  (duckdb import is slow; after the build)
    t0 = time.time()
    info = gen.generate(args.workload, cfg, args.seed, inputs)
    gen_s = time.time() - t0

    hargs = [f"workload={args.workload}", f"inputs={inputs}", f"work={work}",
             f"seconds={args.seconds}", f"pass_seconds={cfg['pass_seconds']}",
             f"trace={args.trace}",
             f"out={work}/harness.json"]
    if args.workload == "medallion":
        v = info["truth"]["versioned"]
        hargs += [f"k={cfg['top_k']}", f"delete_ms={v['delete_ms']}",
                  f"max_id={v['max_id']}", f"scan_lo={v['scan_lo']}",
                  f"scan_hi={v['scan_hi']}",
                  f"upsert_existing={v['upsert_existing']}",
                  f"upsert_new={v['upsert_new']}",
                  f"zorder_files={cfg['zorder_files']}",
                  "years=" + ",".join(map(str, info["truth"]["years"]))]
        in_rows, in_bytes = info["truth"]["raw_rows"], info["truth"]["raw_bytes"]
    else:
        hargs.append("ops=" + ",".join(cfg["ops"]))
        in_rows, in_bytes = sum(info["rows"].values()), info["bytes"]
    cmd = build.jvm("perfbench.PerfBench", *hargs, tmp=f"{work}/tmp")
    # the run's own stage root (under work/): leftover state elsewhere
    # cannot leak in, so an inherited stage dir is dropped
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_STAGE_DIR"}
    t_jvm = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit("harness timed out")
    if rc != 0 or not os.path.exists(os.path.join(work, "harness.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"harness exited with {rc}")
    jvm_s = time.time() - t_jvm
    h = load_json(os.path.join(work, "harness.json"))
    spans = (load_json(os.path.join(work, "harness.json.spans.json"))
             if args.trace else [])

    # ---- correctness (untimed) ----
    t_check = time.time()
    ops = [o for p_ in h["passes"] for o in p_["ops"]]
    attempted, failed, errors, mismatches = verify(
        args.workload, cfg, info, h, inputs, work)
    check_s = time.time() - t_check

    # ---- end-to-end metrics ----
    # best of the run's passes (rows_heavy makes two, so its kernels are
    # timed JIT-warm and a burst of load from other machines on one pass
    # is dodged; the other workloads make one, as a session runs them once)
    best = min(range(len(h["passes"])), key=lambda i: h["passes"][i]["pass_s"])
    pass_s = h["passes"][best]["pass_s"]
    lat = [min(o["s"] for o in ops if o["name"] == n)
           for n in dict.fromkeys(o["name"] for o in ops)]
    tail_v, tail_pct, tail_beyond = tail(lat)
    # input generation, then JVM start, session start and warm-up up to
    # the first timed operation
    setup_s = gen_s + h["setup_s"]
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "op_p50_s": median(lat),
        "op_tail_s": tail_v,
        "rows_per_s": in_rows / pass_s,
        "write_amp": h["write_amp"],
        "peak_rss_mb": h["peak_rss_mb"],
    }
    rec = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "passes": len(h["passes"]),
        "pass_s": pass_s,
        "input": {"rows": in_rows, "bytes": in_bytes,
                  "replicas": cfg.get("replicas")},
        "cores": h["cores"], "xmx": build.XMX, "xmx_mb": h["xmx_mb"],
        "spark": h["spark_version"],
        "load_start": load_start, "load_end": os.getloadavg(),
        "steal_s": (steal_ticks() - steal_start) / os.sysconf("SC_CLK_TCK"),
        "stage_dir_env_at_start": staged_env,
        "staged_bases_at_end": h["staged_at_end"],
        "spark_graft_q_overrides": overrides,
        "git_rev": git_rev(),
        "gen_s": gen_s, "jvm_s": jvm_s, "check_s": check_s,
        "jvm_setup_s": h["setup_s"],
        "op_tail": {"percentile": tail_pct, "samples": len(lat),
                    "beyond": tail_beyond},
        "failed_frac": failed / max(1, attempted),
        "errors": [list(e) for e in errors],
        "mismatches": [list(m) for m in mismatches],
        "ops": {o["name"]: [x["s"] for x in ops if x["name"] == o["name"]]
                for o in ops},
        "build_s": {o["name"]: [x["build_s"] for x in ops
                                if x["name"] == o["name"]] for o in ops},
        "end_to_end": e2e,
    }
    if args.workload == "medallion":
        rec["medallion"] = h["medallion"]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if args.trace:
        # spans of pass p carry operation ids p * 1000 + i (PerfBench.scala)
        spans = [s for s in spans if s["op"] // 1000 == best]
        layers = per_layer(h, spans, best, pass_s)
        rec["per_layer"] = layers
        rec["self_s"] = self_times(spans)
        # traced minus untraced pass_s, against the untraced runs of this
        # workload already recorded in this checkout
        untraced = [load_json(f)["pass_s"] for f in glob.glob(os.path.join(
            build_dir, "records", f"{args.workload}-s*-t0.json"))]
        if untraced:
            rec["trace_overhead_vs_untraced_s"] = pass_s - median(untraced)
            rec["untraced_runs"] = len(untraced)
        names = [m["name"] for m in bench["per_layer"]]
        print(f"# {args.workload} seed {args.seed}: per-layer self time, s per pass")
        by_layer = {}
        for k, v in rec["self_s"].items():
            layer = "op" if k.startswith("op:") else k
            by_layer[layer] = by_layer.get(layer, 0.0) + v
        for k, v in sorted(by_layer.items(), key=lambda kv: -kv[1]):
            print(f"  {k:<28} {v:9.3f}")
        print(f"# counts and times per pass (pass_s {pass_s:.3f})")
        for k in names:
            print(f"  {k:<44} {layers[k]:12.4f} {units[k]}")
        print(f"# tracing overhead: {h['trace_overhead_s']:.3f} s per pass"
              + (f"; traced minus untraced pass_s "
                 f"{rec['trace_overhead_vs_untraced_s']:+.3f} s (median of "
                 f"{rec['untraced_runs']} untraced runs)"
                 if "trace_overhead_vs_untraced_s" in rec else ""))
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in names}
        rec_spans = spans
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
        rec_spans = None
    os.makedirs(os.path.join(build_dir, "records"), exist_ok=True)
    base = os.path.join(build_dir, "records",
                        f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(base + ".json", "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    if rec_spans is not None:
        with open(base + ".spans.json", "w") as f:
            json.dump(rec_spans, f)
    shutil.rmtree(work, ignore_errors=True)
    for n, why in errors + mismatches:
        print(f"FAIL {n}: {why}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (FileNotFoundError, RuntimeError) as e:
        sys.exit(f"perfbench: {e}")
