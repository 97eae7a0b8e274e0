"""Per-query core-scaling table from two bench_out_c<cpus>.json captures of
the SAME tree (verdict r11 #7).

Usage: python scripts/scaling_table.py bench_out_c32.json bench_out_c8.json

Flags every query whose c8/c32 ratio is ~1 while its c32 wall is > 1 s as a
serial suspect (fixed driver/scheduling overhead or a single-task stage is
the wall, not distributed compute).
"""

from __future__ import annotations

import json
import math
import sys


def main() -> None:
    hi = json.load(open(sys.argv[1]))
    lo = json.load(open(sys.argv[2]))
    qh, ql = hi["queries"], lo["queries"]
    common = sorted(set(qh) & set(ql))
    if not common:
        sys.exit(
            f"n_common 0: {sys.argv[1]} ({len(qh)} queries) and {sys.argv[2]}"
            f" ({len(ql)} queries) share no query; nothing to compare"
        )
    ratios = {k: ql[k] / max(qh[k], 1e-9) for k in common}
    g = math.exp(sum(math.log(max(r, 1e-9)) for r in ratios.values()) / len(common))
    print(
        f"trees: c{hi.get('cpus', '?')} total {hi['value']}s vs "
        f"c{lo.get('cpus', '?')} total {lo['value']}s; "
        f"n_common {len(common)}; geomean c-low/c-high ratio {g:.3f}"
    )
    print("\nserial suspects (ratio < 1.3 AND c-high wall > 1 s):")
    suspects = [
        k for k in common if ratios[k] < 1.3 and qh[k] > 1.0
    ]
    for k in sorted(suspects, key=lambda k: -qh[k]):
        print(f"  {qh[k]:7.3f}s @high  {ql[k]:7.3f}s @low  ratio {ratios[k]:5.2f}  {k}")
    print("\nbest scalers (ratio >= 2.0, c-high wall > 0.5 s):")
    for k in sorted(common, key=lambda k: -ratios[k]):
        if ratios[k] >= 2.0 and qh[k] > 0.5:
            print(f"  {qh[k]:7.3f}s @high  {ql[k]:7.3f}s @low  ratio {ratios[k]:5.2f}  {k}")


if __name__ == "__main__":
    main()
