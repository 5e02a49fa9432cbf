#!/usr/bin/env python3
"""Read an interleaved-control bench directory (tools/ctrl_bench.sh):
per-variant per-query minima, their totals, the per-query deltas
larger than the combined spread — the BASELINE.md reading rule applied
mechanically — and the queries only one variant timed, which the totals
leave out. Usage: ctrl_read.py <dir with ctrl_{base,head}N.json>"""
import json, glob, os, sys

d = sys.argv[1] if len(sys.argv) > 1 else "bench/ctrl"

def minima(paths):
    qmin, spread = {}, {}
    for p in paths:
        rec = json.load(open(p))
        for q, t in rec["queries"].items():
            if t < 0:
                continue
            if q not in qmin or t < qmin[q]:
                qmin[q] = t
            spread[q] = max(spread.get(q, 0.0), rec.get("spread", {}).get(q, 0.0))
    return qmin, spread

base_paths = sorted(glob.glob(os.path.join(d, "ctrl_base*.json")))
head_paths = sorted(glob.glob(os.path.join(d, "ctrl_head*.json")))
if not base_paths or not head_paths:
    sys.exit(f"no ctrl_base*/ctrl_head* records under {d}")
b, bs = minima(base_paths)
h, hs = minima(head_paths)
common = sorted(set(b) & set(h))
one_sided = sorted(set(b) ^ set(h))
tb, th = sum(b[q] for q in common), sum(h[q] for q in common)
print(f"legs: {len(base_paths)} base, {len(head_paths)} head; "
      f"{len(common)} common queries")
print(f"per-variant minima totals: base {tb:.3f}s  head {th:.3f}s  "
      f"ratio {th / tb:.3f}")
print("per-query deltas beyond combined spread (code-linked candidates):")
rows = []
for q in common:
    delta = h[q] - b[q]
    band = max(bs.get(q, 0.0), hs.get(q, 0.0))
    if abs(delta) > max(band, 0.04):
        rows.append((delta, q, b[q], h[q], band))
for delta, q, bq, hq, band in sorted(rows):
    print(f"  {q:32s} base {bq:6.3f}  head {hq:6.3f}  "
          f"delta {delta:+.3f}  (spread {band:.3f})")
if not rows:
    print("  (none — suite-flat)")
print("queries timed in only one variant (failed or missing in the other):")
for q in one_sided:
    print(f"  {q:32s} {'base only' if q in b else 'head only'}")
if not one_sided:
    print("  (none)")
