#!/usr/bin/env python3
"""Adjudicate a bench run's per-chunk stamps against the committed calm
record (round-15 verdict item 6: turn the chunk-stamp data into a
one-command check).

Usage:
    tools/bench_adjudicate.py CANDIDATE.json [REFERENCE.json]

With no REFERENCE, the committed record for the candidate's SF is used
(bench_details.json for sf0.001, bench_details_sf01.json for sf0.1).
Chunks are matched by their `first` query name; each gets

    PASS      wall <= 1.30x the reference chunk  (the protocol's band)
    INFLATED  wall  > 1.30x — a contention window over that block
    NO-REF    no reference chunk with that start (set drift/crash retime)

plus the load stamps so a spike is visible inline. The summary line
distinguishes the two documented contention signatures:
  - one INFLATED block in an otherwise-calm run = co-tenant burst
    (usually with a load spike at a chunk boundary);
  - all chunks PASS but the median ratio sits broadly +5-15% high =
    hypervisor steal (loadavg-invisible) — reported as STEAL-SUSPECT.
Exit code: 0 if every matched chunk passes and no steal suspicion,
1 otherwise (so record scripts can gate promotion on it).
"""
import json
import statistics
import sys

INFLATED_AT = 1.30   # protocol band: p90/p10 vs record < ~1.3
STEAL_BAND = 1.05    # broad median above this with no single block = steal


def load(path):
    with open(path) as f:
        d = json.load(f)
    chunks = d.get("chunks") or []
    if not chunks:
        sys.exit(f"{path}: no chunk stamps (pre-round-15 record?)")
    return d, chunks


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__.strip().split("\n", 1)[0] +
                 "\nusage: bench_adjudicate.py CANDIDATE.json [REFERENCE.json]")
    cand_path = argv[1]
    cand, cchunks = load(cand_path)
    if len(argv) > 2:
        ref_path = argv[2]
    else:
        sf = str(cand.get("sf", ""))
        ref_path = ("bench_details.json" if "sf0.001" in sf
                    else "bench_details_sf01.json")
    ref, rchunks = load(ref_path)
    by_first = {c["first"]: c for c in rchunks}

    print(f"candidate {cand_path}  total={cand.get('value')}s "
          f"n={cand.get('n_queries')} staged_dirs={cand.get('staged_dirs')} "
          f"mode={cand.get('segment_mode')}")
    print(f"reference {ref_path}  total={ref.get('value')}s "
          f"n={ref.get('n_queries')}")

    ratios, inflated = [], []
    for c in cchunks:
        tag = f"{c['first']}..{c['last']} (n={c['n']})"
        loads = f"load {c['load_start']}->{c['load_end']}"
        r = by_first.get(c["first"])
        if r is None:
            print(f"  NO-REF   {tag}  wall={c['wall']}s  {loads}")
            continue
        ratio = c["wall"] / r["wall"] if r["wall"] > 0 else float("inf")
        ratios.append(ratio)
        verdict = "PASS    " if ratio <= INFLATED_AT else "INFLATED"
        if ratio > INFLATED_AT:
            inflated.append(c["first"])
        print(f"  {verdict} {tag}  wall={c['wall']}s  "
              f"ref={r['wall']}s  x{ratio:.2f}  {loads}")

    if not ratios:
        print("verdict: NO-MATCH (no chunk matched the reference)")
        return 1
    med = statistics.median(ratios)
    if inflated:
        print(f"verdict: INFLATED ({len(inflated)} chunk(s): "
              f"{', '.join(inflated)}; median x{med:.2f}) — "
              f"co-tenant burst signature, discard for records")
        return 1
    if med > STEAL_BAND:
        print(f"verdict: STEAL-SUSPECT (all chunks in band but median "
              f"x{med:.2f} > x{STEAL_BAND}) — broad hypervisor-steal "
              f"signature, compare a same-day isolated probe before "
              f"promoting")
        return 1
    print(f"verdict: CALM (median x{med:.2f}, max "
          f"x{max(ratios):.2f}) — promotable")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
