#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the benchmark and the
engine from source with sbt (offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. Inputs are generated from
`--seed` into `.bench_build/`, the benchmark JVM runs the workload, and the
last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics. The full result (input properties,
per-op medians, digests, session configuration) is kept in
`.bench_build/results/`, and a traced run writes its spans beside it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes and loop shape per profile. "full" is the measured
# configuration; "smoke" is the smallest one, used by perfbench/test/smoke.py.
# `setups` fresh sessions register the inputs, then one untimed pass and at
# least four timed ones run. `olap_scale` is the scale factor of olap's
# tables; the pipeline's corpus, which only feeds the stream and the WET
# shards, is always at PIPELINE_SCALE.
PROFILES = {
    "full": {"olap_scale": 0.1, "raster_px": 1024, "setups": 3},
    "smoke": {"olap_scale": 0.001, "raster_px": 512, "setups": 1},
}
PIPELINE_SCALE = 0.001
GOLDEN_SEED = 1
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads",
    # JIT compiler threads at nice 19: they compile in CPU time the measured
    # threads leave idle (takes effect as root, ignored otherwise)
    "-XX:ThreadPriorityPolicy=1", "-XX:CompilerThreadPriority=19",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for r, ds, fs in os.walk(d):
            ds[:] = sorted(x for x in ds if x not in ("target", "project"))
            files += [os.path.join(r, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile the benchmark with the engine's sources; return its classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building benchmark and engine with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       " -Xmx3g").strip()
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            kill(proc)
            raise SystemExit("build timed out")
        logf.write(out)
    lines = [x for x in out.splitlines() if "perfbench" in x and os.pathsep in x
             and not x.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"build failed (sbt exit {proc.returncode}); see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def kill(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def make_inputs(workload, seed, prof, run_dir):
    """Generate the workload's seeded inputs; returns (dirs, properties)."""
    dirs = {"corpus": os.path.join(run_dir, "corpus"), "wet": os.path.join(run_dir, "wet")}
    scale = prof["olap_scale"] if workload == "olap" else PIPELINE_SCALE
    props = {"corpus": gen.tables(dirs["corpus"], seed, scale)}
    if workload == "pipeline":
        props["wet"] = gen.wet(dirs["wet"], seed, dirs["corpus"])
    return dirs, props


def units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["olap", "pipeline"])
    ap.add_argument("--seed", type=int, default=GOLDEN_SEED)
    ap.add_argument("--seconds", type=float, default=15,
                    help="timed window; whole passes run until it is over, at least four")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--profile", choices=sorted(PROFILES), default="full")
    ap.add_argument("--golden", default=os.path.join(HERE, "golden.json"),
                    help="golden digests per workload for the default seed")
    ap.add_argument("--write-golden", action="store_true",
                    help="record this run's digests as the golden ones")
    a = ap.parse_args(argv)
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found; "
                         "run from the root of a graft checkout")
    e2e_units, layer_units = units()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    classpath = build(start + 840)
    t_build = time.time()

    prof = PROFILES[a.profile]
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        dirs, input_props = make_inputs(a.workload, a.seed, prof, run_dir)
        gen_s = time.time() - t_build
        golden = {}
        if a.seed == GOLDEN_SEED and not a.write_golden and os.path.exists(a.golden):
            with open(a.golden) as f:
                golden = json.load(f).get(a.profile, {}).get(a.workload, {})
        out = os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath,
                                     "graft.perfbench.Main",
                                     "--workload", a.workload, "--seed", str(a.seed),
                                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                                     "--corpus", dirs["corpus"], "--wet", dirs["wet"],
                                     "--scratch", run_dir, "--out", out,
                                     "--cores", str(len(os.sched_getaffinity(0))),
                                     "--raster-px", str(prof["raster_px"]),
                                     "--setups", str(prof["setups"]),
                                     "--golden", ",".join(f"{k}={v}" for k, v in golden.items())]
        proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, t_build + 170 - time.time()))
        except subprocess.TimeoutExpired:
            kill(proc)
            raise SystemExit("benchmark JVM timed out")
        if code != 0:
            raise SystemExit(f"benchmark JVM exited with {code}")
        with open(out) as f:
            res = json.load(f)
        res["gen_s"] = gen_s
        res["inputs"] = input_props
        with open(out, "w") as f:
            json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.write_golden:
        allg = {}
        if os.path.exists(a.golden):
            with open(a.golden) as f:
                allg = json.load(f)
        allg.setdefault(a.profile, {})[a.workload] = res["digests"]
        with open(a.golden, "w") as f:
            json.dump(allg, f, indent=1, sort_keys=True)
            f.write("\n")

    for msg in res["failures"]:
        log(f"failure: {msg}")
    values = res["per_layer"] if a.trace else res["end_to_end"]
    names = layer_units if a.trace else e2e_units
    metrics = {k: {"value": values[k], "unit": u} for k, u in names.items()}
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"failed_frac = {res['failed_frac']:.6g} ({res['failed']}/{res['attempted']} ops)")
    print(f"passes = {res['passes']}; setup_total_s = {res['setup_total_s']:.3f}; gen_s = {gen_s:.3f}")
    if a.trace:
        print(f"ops whose build+plan+exec is off their wall by >10%: {res['split_violations']}")
    print("inputs = " + json.dumps(dict(res["input_props"], **input_props)))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])
