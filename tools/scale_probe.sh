#!/bin/bash
# SCALE.md probe (round-11 verdict item 6): steady-state per-query
# timing of the slow-query family at sf0.1 vs the 10x synthetic fixture
# (tools/make_scale_fixture.py -> scaledata/sf1), 3 reps each via
# graft.Explain. Run CALM and alone - co-tenant Spark work inflates the
# numbers ~1.7x. Output: one line per (query, sf) with the core count
# (SPARK_GRAFT_CPUS, default 32, read by graft.Explain) and the rep times.
set -eu
cd "$(dirname "$0")/.."
QUERIES="${1:-q450_rich_club q340_ktruss q334_label_propagation \
q101_pagerank q294_dpp_join q267_summary_profile q279_ppjoin_pairs \
q293_dedup_calibration q307_cdc_chunking q316_survivorship \
q354_huffman_cost q139_stream_left_join q84_cluster_dedup \
q247_best_rep_dedup q252_component_split}"
# SFDIRS overrides the probed fixtures (round-14: the capstone probe adds
# the 100x fixture scaledata/sf10 built by make_scale_fixture.py).
SFDIRS="${SFDIRS:-/root/testdata/sf0.1 /root/repo/scaledata/sf1}"
# Driver heap per probe: the sf10 (100x) fixture's graph family needs
# ~15 GB/iteration of shuffle spill headroom under local[32] — at the
# default 8g the trio (q101/q290/q340) dies in AGGREGATE_OUT_OF_MEMORY
# (round-15 measurement). Auto-raise to 24g for any probed fixture
# over the size threshold rather than rediscovering it per run; an
# explicit SPARK_DRIVER_MEM still wins.
mem_for() { # $1 = sf dir -> echoes the Xmx to use
  if [ -n "${SPARK_DRIVER_MEM:-}" ]; then echo "$SPARK_DRIVER_MEM"; return; fi
  sz=$(du -sm "$1" 2>/dev/null | cut -f1 || echo 0)
  if [ "${sz:-0}" -ge 2048 ]; then echo 24g; else echo 8g; fi
}
CPUS="${SPARK_GRAFT_CPUS:-32}"
for q in $QUERIES; do
  for sf in $SFDIRS; do
    mem=$(mem_for "$sf")
    t=$(SPARK_DRIVER_MEM="$mem" tools/run.sh graft.Explain "$q" "$sf" 3 \
      2>/dev/null | grep -oE 'time=[0-9.]+' | cut -d= -f2 | paste -sd,)
    echo "$q $(basename "$sf") cpus=$CPUS mem=$mem $t"
  done
done
