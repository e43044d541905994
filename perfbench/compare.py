"""Steadiness of two sets of runs of one commit.

    python3 perfbench/compare.py SET_A SET_B

Each set is a directory of the reports `run.py` writes (`--out DIR`,
default `perfbench/.runs`). For every workload and end-to-end metric it
prints each set's median, quartiles and relative spread (quartile
distance over median), and the shift of B's median against A's, with
the bound `BENCHMARK.json` fixes for that metric. A metric is flagged
when a spread (except set-up time's) or the shift, in either
direction, exceeds its bound.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict:
    """workload → metric → values, from the untraced reports in `path`."""
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace"):
            continue
        for k, v in r["end_to_end"].items():
            out.setdefault(r["workload"], {}).setdefault(k, []).append(v)
    return out


def stats(xs: list) -> tuple:
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return med, q1, q3, (q3 - q1) / med


def main(a_dir: str, b_dir: str) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    a, b = load(a_dir), load(b_dir)
    flagged = 0
    print(f"{'workload':9} {'metric':12} {'n':>5} {'A median':>10} {'A q1..q3':>21} {'A spr':>6} "
          f"{'B median':>10} {'B spr':>6} {'shift':>7} {'bound':>6}")
    for w in sorted(set(a) | set(b)):
        for m in bounds:
            if m not in a.get(w, {}) or m not in b.get(w, {}):
                continue
            am, aq1, aq3, asp = stats(a[w][m])
            bm, _, _, bsp = stats(b[w][m])
            shift = bm / am - 1
            bad = abs(shift) > bounds[m] or (m != "setup_s" and max(asp, bsp) > bounds[m])
            flagged += bad
            print(f"{w:9} {m:12} {len(a[w][m]):>2}/{len(b[w][m]):<2} {am:10.4g} "
                  f"{aq1:10.4g}..{aq3:<10.4g} {asp:6.3f} {bm:10.4g} {bsp:6.3f} {shift:+7.3f} "
                  f"{bounds[m]:6.2f}{'  <-- over bound' if bad else ''}")
    return 1 if flagged else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
