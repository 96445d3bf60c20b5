#!/usr/bin/env python3
"""The graft benchmark: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
program and the harness with sbt (outside any timed window); inputs are
generated from --seed and cached under perfbench/.work, as are the
DuckDB oracle answers. The JVM's outputs are then checked (check.py) and
the last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See README.md for the workloads, metrics and reference figures.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
HARNESS = os.path.join(BENCH, "harness")
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

# Catalog scale of ext_heavy. The scale and the operator list are sized
# so that one run, JVM set-up included, takes about 50 s (see README,
# "Workloads").
SF_HEAVY = 0.01
JVM_HEAP = "2g"
# A fixed young generation: with the collector's adaptive young size,
# the heap pages ever touched, and so peak RSS, varied by ±20% between
# identical runs. Fixed, every young region is touched early and the
# peak moves with the old generation (retained data and pins) and with
# memory outside the heap.
JVM_YOUNG = "256m"
# The JIT stops at C1. With C2 as well, warm passes kept speeding up
# for a minute or more (files_sql 2.3 -> 3.2 ops/s over six passes,
# x169 -25% over three), and a run's median depended on how far C2 had
# got in it. With C1 alone, the passes after the warm-up drift much
# less (README, "Steadiness").
JVM_JIT = "-XX:TieredStopAtLevel=1"
# Set-up, load, the cold pass and the warm-up take 25-40 s; the measured
# passes take --seconds or a little more.
JVM_TIMEOUT_BASE_S = 150
# Warm passes that are run but not measured, after the cold pass, while
# the last compilations land. Then measured passes repeat until --seconds
# have passed, and at least MIN_PASSES of them. Four passes take longer
# than BENCHMARK.json's run_seconds on either workload, so every run
# makes the same number of passes and every median has four samples. A
# traced run makes whole groups of four (see Harness.scala).
WARMUP_PASSES = 1
MIN_PASSES = 4

# Heavy operators (see README for what was kept and why), plus the
# sink-node PageRank relabelling property, an untimed check that fails
# until the graph dictionary covers destination-only nodes.
EXT_HEAVY = ["x169_graph_pagerank", "pagerank_sink_relabel"]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def _digest(paths):
    """Names, sizes and modification times of every file under `paths`."""
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) if "/target" not in d for f in fs)
        for fp in files:
            st = os.stat(fp)
            h.update(f"{fp}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness once per source state; the
    harness's runtime classpath lands in harness/target."""
    cp_file = os.path.join(HARNESS, "target", "runtime-classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = _digest([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
                     os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "src")])
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp_file
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if not any(o.startswith("-Dsbt.offline") for o in opts):
        opts.append("-Dsbt.offline=true")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx2g")
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                             "writeClasspath"], cwd=HARNESS, env=env, stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.exists(cp_file):
        sys.exit(f"build failed (exit {rc}); see {os.path.join(WORK, 'build.log')}")
    log(f"built in {time.time() - t:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp_file


def _cached(path, make):
    """Generate into a temporary sibling and rename, so an interrupted
    generation never leaves a half-written cache."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.rename(tmp, path)
    return path


def inputs(workload, seed):
    data = os.path.join(WORK, "data")
    os.makedirs(data, exist_ok=True)
    if workload == "files_sql":
        root = _cached(os.path.join(data, f"files-seed{seed}"),
                       lambda p: gen.files(os.path.join(p, "files"), seed))
        return os.path.join(root, "files")
    return _cached(os.path.join(data, f"tables-sf{SF_HEAVY}-seed{seed}"),
                   lambda p: gen.tables(p, seed, SF_HEAVY))


def run_jvm(cp_file, workload, data, seconds, trace, out):
    with open(cp_file) as f:
        cp = f.read().strip()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java", *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", JVM_JIT,
           "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Harness",
           "--workload", workload, "--data", data, "--out", out,
           "--seconds", str(seconds), "--min-passes", str(MIN_PASSES),
           "--warmup", str(WARMUP_PASSES),
           "--trace", "1" if trace else "0"]
    if workload == "files_sql":
        cmd += ["--script", os.path.join(BENCH, "files_sql.json"),
                "--export", os.path.join(out, "export")]
    else:
        cmd += ["--ops", ",".join(EXT_HEAVY)]
    timeout = JVM_TIMEOUT_BASE_S + seconds
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"harness JVM exceeded {timeout:.0f} s; see {out}/jvm.log")
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        sys.exit(f"harness JVM failed (exit {rc}); see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["files_sql", "ext_heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("no graft sources next to perfbench/: run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    cp_file = build()
    data = inputs(a.workload, a.seed)
    out = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    res = run_jvm(cp_file, a.workload, data, a.seconds, a.trace, out)
    problems = check.check_run(a.workload, res, out, data,
                               os.path.join(WORK, "oracle"))
    for p in problems:
        log(f"CHECK FAILED: {p}")
    for f in res["failures"]:
        log(f"op failed: {f}")

    e2e, layers = metric_specs()
    src = res["layers"] if a.trace else res["metrics"]
    specs = layers if a.trace else e2e
    metrics = {m["name"]: {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in specs}
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
