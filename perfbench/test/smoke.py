#!/usr/bin/env python3
"""Smoke self-test of the benchmark, on the smallest inputs.

    python3 perfbench/test/smoke.py

For every workload in BENCHMARK.json, an untraced and a traced run of the
`smoke` profile (sf0.001 tables, a 512x512 raster, one set-up, one warm-up
pass, at least four timed passes) must print every metric BENCHMARK.json
names for that mode, with its unit, and no failed op. Then one golden
digest is corrupted: the op must fail, `ok_frac` must drop below 1, and
`op_geomean_s` must not fall. Exits non-zero on the first violation.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
GOLDEN = os.path.join(ROOT, "perfbench", "golden.json")


def run(*args):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--profile", "smoke",
                        *args], cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run.py {' '.join(args)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    print(p.stdout, end="")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(cond, msg):
    if not cond:
        sys.exit(f"FAIL: {msg}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    clean = {}
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run("--workload", w["name"], "--trace", str(trace))
            if trace == 0:
                clean[w["name"]] = res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w['name']} trace={trace}: metrics {sorted(set(got) ^ set(want))} "
                               "missing or unexpected, or units differ")
            check(res["failed"] == 0 and res["correct"],
                  f"{w['name']} trace={trace}: {res['failed']} of {res['attempted']} ops failed")
            if trace == 0:
                check(res["metrics"]["ok_frac"]["value"] == 1.0, f"{w['name']}: ok_frac < 1")

    # a corrupted golden digest must fail its op
    with open(GOLDEN) as f:
        golden = json.load(f)
    wl = spec["workloads"][0]["name"]
    op = sorted(golden["smoke"][wl])[0]
    golden["smoke"][wl][op] = "0:0000000000000000"
    bad = os.path.join(ROOT, ".bench_build", "selftest-golden.json")
    os.makedirs(os.path.dirname(bad), exist_ok=True)
    with open(bad, "w") as f:
        json.dump(golden, f)
    res = run("--workload", wl, "--trace", "0", "--seed", "1", "--golden", bad)
    check(res["failed"] > 0 and not res["correct"], "a corrupted golden digest did not fail its op")
    check(res["metrics"]["ok_frac"]["value"] < 1.0, "ok_frac stayed 1 with a failed op")
    # the failed op still counts at its full wall: failing must not read as a
    # gain (half the clean figure leaves room for timing noise)
    geo, clean_geo = (r["metrics"]["op_geomean_s"]["value"] for r in (res, clean[wl]))
    check(geo > 0.5 * clean_geo,
          f"op_geomean_s fell from {clean_geo:.4g} to {geo:.4g} s when an op failed")
    print("smoke: ok")


if __name__ == "__main__":
    main()
