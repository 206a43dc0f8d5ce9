#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload marine_log --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds the program from source
(cached in .bench_build), generates the workload's inputs from --seed,
measures one local-mode Spark JVM for --seconds, checks every output and
prints the metrics. The last stdout line is
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics of a traced pass. The full run artifact is written to
.bench_build/runs/.

Workloads:
  marine_log    one season log through readLog, wideTable and Races.split,
                then two JSON sinks from the one race table:
                Races.replayDocs and Races.stats
  query_keys    the keys of query_keys.txt over generated tables, in a
                seed-permuted order, each result collected in full
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_nmea  # noqa: E402
import gen_tables  # noqa: E402

LOG_LINES = 50_000
TABLE_SCALE = 0.001
DEFAULT_SEED = 1
DEADLINE_S = 170


def load_json(path):
    with open(path) as f:
        return json.load(f)


def fingerprint_lines(lines):
    """Order-independent fingerprint of text lines: count and the sum of a
    64-bit hash per line, modulo 2^64."""
    n = total = 0
    for line in lines:
        n += 1
        total += int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")
    return "%d:%016x" % (n, total % (1 << 64))


def part_lines(directory):
    """Lines of every part file Spark wrote into directory."""
    for name in sorted(os.listdir(directory)):
        if name.startswith("part-"):
            with open(os.path.join(directory, name)) as f:
                for line in f:
                    if line.strip():
                        yield line.rstrip("\n")


def quantile(values, q):
    """q-quantile by linear interpolation between closest ranks."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def make_inputs(root, workload, seed):
    """Generate (or reuse) the inputs of one workload and seed."""
    base = os.path.join(root, ".bench_build", "inputs")
    if workload == "query_keys":
        tables = os.path.join(base, f"tables-{TABLE_SCALE}")
        if not os.path.exists(os.path.join(tables, ".done")):
            os.makedirs(tables, exist_ok=True)
            gen_tables.write(tables, TABLE_SCALE)
            open(os.path.join(tables, ".done"), "w").close()
        keys = [k.split("#")[0].strip() for k in open(os.path.join(HERE, "query_keys.txt"))]
        keys = [k for k in keys if k]
        random.Random(seed).shuffle(keys)
        keys_file = os.path.join(base, f"query_keys-{seed}.txt")
        with open(keys_file, "w") as f:
            f.write("\n".join(keys) + "\n")
        return tables, keys_file, {"keys": len(keys)}
    d = os.path.join(base, f"{workload}-{seed}")
    done = os.path.join(d, "expected.json")
    log = os.path.join(d, "season.nmea")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        expected = gen_nmea.write_log(log, seed, LOG_LINES)
        with open(done, "w") as f:
            json.dump(expected, f)
    return log, None, load_json(done)


def check_marine(seed, art, expected, work):
    """Planted counts for every seed; golden fingerprints for the default."""
    problems = []
    if art["parse_valid"] != expected["valid"]:
        problems.append(f"valid sentences {art['parse_valid']:.0f} != planted {expected['valid']}")
    if art["parse_rejected"] != expected["rejected"]:
        problems.append(f"rejected lines {art['parse_rejected']:.0f} != planted {expected['rejected']}")
    if art["parse_valid"] + art["parse_rejected"] != expected["lines"]:
        problems.append("parsed lines != generated lines")
    prints = {}
    for sink in ("replay", "stats"):
        out = os.path.join(work, "out", sink)
        if not os.path.isdir(out):
            problems.append(f"{sink}: no output written")
            continue
        lines = list(part_lines(out))
        docs = [json.loads(x) for x in lines]
        samples = sum((d["meta"] if sink == "replay" else d)["n_samples"] for d in docs)
        if len(docs) != expected["races"]:
            problems.append(f"{sink}: {len(docs)} races != planted {expected['races']}")
        if samples != expected["ticks"]:
            problems.append(f"{sink}: {samples} samples != planted {expected['ticks']} ticks")
        prints[sink] = fingerprint_lines(lines)
    if seed == DEFAULT_SEED:
        golden = load_json(os.path.join(HERE, "goldens", "marine.json")).get("marine_log")
        if golden is not None and golden != prints:
            problems.append(f"fingerprints {prints} != golden {golden}")
    return problems, prints


def check_queries(art):
    """Each key's fingerprint must be unique across its runs and equal the
    golden. Returns (problems, number of wrong operations)."""
    golden = load_json(os.path.join(HERE, "goldens", "query_keys.json"))
    problems, wrong_keys = [], []
    for key, seen in art["fingerprints"].items():
        if seen == "":
            continue  # every run of the key failed; counted as failures
        if seen != golden.get(key):
            problems.append(f"{key}: fingerprint {seen} != golden {golden.get(key)}")
            wrong_keys.append(key)
    runs_per_key = art["attempted_ops"] / max(1, len(art["fingerprints"]))
    return problems, int(round(len(wrong_keys) * runs_per_key))


def end_to_end(art, items_per_pass):
    ops = art["op_s"]
    items = items_per_pass * len(art["pass_s"])
    return {
        "setup_s": (art["setup_s"], "s"),
        "wall_s": (statistics.median(art["pass_s"]), "s"),
        "items_per_s": (items / art["timed_s"], "1/s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_p90_s": (quantile(ops, 0.9), "s"),
        "peak_rss_mb": (art["peak_rss_mb"], "MB"),
    }


def per_layer(art, spec):
    values = {m["name"]: 0.0 for m in spec["per_layer"]}
    for stage, fields in art.get("stages", {}).items():
        for field, v in fields.items():
            values[f"marine.{stage}.{field}"] = v
    values["marine.parse.rejected"] = art.get("parse_rejected", 0.0)
    for phase, v in art.get("phases", {}).items():
        values[f"spark.{phase}"] = v
    for field, v in art["spark"].items():
        values[f"spark.{field}"] = v
    for key, m in art.get("keys", {}).items():
        pack = art["pack_of"][key]
        for phase in ("analyze_s", "optimize_s", "plan_s", "execute_s"):
            values[f"spark.{phase}"] += m[phase]
        values["operators.construct_s"] += m["construct_s"]
        values["operators.construct_jobs"] += m["construct_jobs"]
        values[f"operators.{pack}.s"] += m["s"]
        values[f"operators.{pack}.jobs"] += m["jobs"]
    values["trace.overhead_s"] = art["traced_pass_s"] - statistics.median(art["pass_s"])
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    unknown = set(values) - set(units)
    if unknown:
        raise SystemExit(f"perfbench: per-layer values not declared in BENCHMARK.json: {sorted(unknown)}")
    return {k: (v, units[k]) for k, v in values.items()}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["marine_log", "query_keys"])
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    started = time.monotonic()
    root = os.getcwd()
    spec = load_json(os.path.join(root, "BENCHMARK.json"))
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    classpath = build.build(root, out_dir)
    build_s = time.monotonic() - started

    t = time.monotonic()
    inputs, keys_file, expected = make_inputs(root, a.workload, a.seed)
    inputs_s = time.monotonic() - t
    work = os.path.join(out_dir, "work", a.workload)
    runs = os.path.join(out_dir, "runs")
    os.makedirs(work, exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    # never check a previous run's outputs
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    raw = os.path.join(work, "artifact.json")
    if os.path.exists(raw):
        os.remove(raw)
    args = ["--workload", a.workload, "--input", inputs, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", raw]
    if keys_file:
        args += ["--keys", keys_file]
    cmd = build.java_cmd(root, classpath, "graft.perfbench.Main", args)
    budget = DEADLINE_S + build_s - (time.monotonic() - started)
    subprocess.run(cmd, check=True, timeout=max(10.0, budget), stdout=sys.stderr)
    art = load_json(raw)

    if a.workload == "query_keys":
        problems, wrong = check_queries(art)
        items_per_pass = expected["keys"]
    else:
        problems, prints = check_marine(a.seed, art, expected, work)
        art["output_fingerprints"] = prints
        wrong = art["attempted_ops"] if problems else 0
        items_per_pass = expected["lines"]
    failures = [x for x in art["failures"].split("\n") if x]
    attempted = int(art["attempted_ops"])
    failed = min(attempted, int(art["failed_ops"]) + wrong)
    metrics = per_layer(art, spec) if a.trace else end_to_end(art, items_per_pass)

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "build_s": build_s, "inputs_s": inputs_s, "expected": expected,
              "problems": problems, "failures": failures,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
              "artifact": art}
    run_file = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(run_file, "w") as f:
        json.dump(record, f, indent=1)
    for msg in problems + failures:
        print(f"perfbench: {a.workload}: {msg}", file=sys.stderr)
    summary = " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in sorted(metrics.items()))
    print(f"{a.workload} seed={a.seed} failed_frac={failed / attempted:.4g} "
          f"attempted={attempted} artifact={os.path.relpath(run_file, root)}")
    print(summary)
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
