#!/usr/bin/env python3
"""Compare two benchmark run artifacts.

    python3 perfbench/compare.py BASE.json NEW.json

The artifacts are the files perfbench/run.py writes into
.bench_build/runs/. The tool flags:

* end-to-end metrics that got worse by more than their bound in
  BENCHMARK.json;
* plan-determined counters that moved at all, per query key and per
  operator pack (jobs, stages, shuffle_write_bytes, construct_jobs) and
  per marine stage (rows, shuffle_bytes). These counters do not depend on
  host speed, so any move is a change in what the program does.

Exits 1 when anything is flagged, 0 otherwise.
"""
import json
import os
import sys

KEY_COUNTERS = ("jobs", "stages", "shuffle_write_bytes", "construct_jobs")
STAGE_COUNTERS = ("rows", "shuffle_bytes")


def load(path):
    with open(path) as f:
        return json.load(f)


def end_to_end_flags(spec, base, new):
    flags = []
    for m in spec["end_to_end"]:
        b = base["metrics"].get(m["name"], {}).get("value")
        n = new["metrics"].get(m["name"], {}).get("value")
        if b is None or n is None or b == 0:
            continue
        worse = (n - b) / b if m["better"] == "lower" else (b - n) / b
        if worse > m["bound"]:
            flags.append(f"{m['name']}: {b:.6g} -> {n:.6g} {m['unit']} "
                         f"({worse:+.1%} worse, bound {m['bound']:.0%})")
    return flags


def per_pack(art):
    packs = {}
    for key, counters in art.get("keys", {}).items():
        pack = packs.setdefault(art["pack_of"][key], {c: 0 for c in KEY_COUNTERS})
        for c in KEY_COUNTERS:
            pack[c] += counters[c]
    return packs


def moved(label, base, new, names):
    return [f"{label} {c}: {base[c]:.0f} -> {new[c]:.0f}"
            for c in names if c in base and c in new and base[c] != new[c]]


def counter_flags(base, new):
    b, n = base["artifact"], new["artifact"]
    flags = []
    for key in sorted(set(b.get("keys", {})) & set(n.get("keys", {}))):
        flags += moved(f"key {key}", b["keys"][key], n["keys"][key], KEY_COUNTERS)
    bp, np_ = per_pack(b), per_pack(n)
    for pack in sorted(set(bp) & set(np_)):
        flags += moved(f"pack {pack}", bp[pack], np_[pack], KEY_COUNTERS)
    for stage in sorted(set(b.get("stages", {})) & set(n.get("stages", {}))):
        flags += moved(f"marine.{stage}", b["stages"][stage], n["stages"][stage], STAGE_COUNTERS)
    return flags


def compare(spec, base, new):
    if base["workload"] != new["workload"]:
        return [f"different workloads: {base['workload']} vs {new['workload']}"]
    return end_to_end_flags(spec, base, new) + counter_flags(base, new)


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    here = os.path.dirname(os.path.abspath(__file__))
    spec = load(os.path.join(here, "..", "BENCHMARK.json"))
    flags = compare(spec, load(sys.argv[1]), load(sys.argv[2]))
    for f in flags:
        print(f)
    print(f"{len(flags)} flagged")
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
