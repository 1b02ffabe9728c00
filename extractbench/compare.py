"""Compare two sets of benchmark records, refusing mismatched inputs.

    python3 extractbench/compare.py BASE_DIR NEW_DIR

Each directory holds the ``.json`` records ``run.py`` writes to
``.bench_work/results/`` (copy them aside per commit).  Untraced records
are paired by workload and seed; a pair whose input digests differ means
the generator changed between the two sets, so nothing is compared and
the exit code is 2.  Otherwise every end-to-end metric is printed per
workload as base and new median with quartiles, the relative change,
and whether it is worse than the bound in ``BENCHMARK.json``.
"""

from __future__ import annotations

import glob
import json
import os
import sys

from stats import summary

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory: str) -> dict[tuple[str, int], dict]:
    out = {}
    for path in glob.glob(os.path.join(directory, "*.json")):
        with open(path, encoding="utf-8") as f:
            rec = json.load(f)
        if rec.get("trace") == 0:
            out[(rec["workload"], rec["seed"])] = rec
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    pairs = sorted(set(base) & set(new))
    if not pairs:
        print("no (workload, seed) pair in both sets", file=sys.stderr)
        return 2
    bad = [k for k in pairs if base[k]["input_digest"] != new[k]["input_digest"]]
    if bad:
        for w, s in bad:
            print(f"refused: {w} seed {s}: input digests differ "
                  f"({base[(w, s)]['input_digest'][:16]} vs {new[(w, s)]['input_digest'][:16]})",
                  file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    worse_any = False
    for workload in sorted({w for w, _ in pairs}):
        keys = [k for k in pairs if k[0] == workload]
        print(f"{workload}: {len(keys)} paired seeds")
        for name, m in spec.items():
            b = summary([base[k]["metrics"][name] for k in keys])
            n = summary([new[k]["metrics"][name] for k in keys])
            change = (n["median"] - b["median"]) / b["median"]
            worse = -change if m["better"] == "higher" else change
            flag = "WORSE" if worse > m["bound"] else ""
            worse_any |= bool(flag)
            print(f"  {name:<18} base {b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}]  "
                  f"new {n['median']:.4g} [{n['q1']:.4g}, {n['q3']:.4g}]  "
                  f"{change:+.1%} {m['unit']} {flag}")
    return 1 if worse_any else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
