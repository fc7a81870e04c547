#!/usr/bin/env python3
"""One benchmark run of the graft engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds the engine plus the benchmark (once per source change; outputs go
under .bench_build/), writes the seeded inputs, runs one workload in a
fresh JVM for --seconds of closed-loop operations, checks every output,
and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it carries the workload's
own named figures and the box the run measured. Exit code 0 iff every
output was correct.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("ingest", "follow")
# Per-workload input size: sf for the TPC-H-shaped tables, n_ops = how many
# seeded batches / ticks exist (a run stops early when --seconds is up),
# docs = follow's table size.
SIZES = {
    "ingest": {"sf": 0.01, "n_ops": 16},
    "follow": {"n_ops": 16, "docs": 500},
}
DEADLINE_S = 170
BUILD_DEADLINE_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"),
                        "perfbench")


def source_files():
    """Every file the benchmark's build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(bdir):
    """Compile engine + benchmark with sbt when the sources changed; returns
    the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources next to the benchmark (expected build.sbt and src/main/scala/graft)")
    stamp = stamp_of(source_files())
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    log("building engine and benchmark (sbt)")
    t = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=BUILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout)
        fail(f"build failed (sbt exit {p.returncode})")
    cps = [line.strip() for line in p.stdout.splitlines()
           if ".jar" in line and ":" in line and not line.startswith("[")]
    if not cps:
        sys.stderr.write(p.stdout)
        fail("build printed no classpath")
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t:.1f}s")
    return cps[-1], stamp


def inputs(bdir, workload, seed):
    """Seeded inputs for one run, written fresh."""
    import gen
    d = os.path.join(bdir, "data")
    shutil.rmtree(d, ignore_errors=True)
    gen.write_workload_inputs(workload, seed, d, **SIZES[workload])
    return d


def git_commit():
    """HEAD of the checkout, when it is a git work tree (else None)."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if p.returncode != 0:
            return None
        return p.stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def driver_mem():
    """Heap size by the repository's test-harness rule: MemTotal/2 in GiB,
    clamped to [2, 8]."""
    g = mem_total_kb() // 2097152
    return f"{min(8, max(2, g))}g"


def oracle_failures(data, out, keys):
    """Scripted keys whose dumped result disagrees with their DuckDB oracle
    (tools/check.py's comparison, run read-only)."""
    check = os.path.join(ROOT, "tools", "check.py")
    p = subprocess.run([sys.executable, check, os.path.join(data, "base"),
                        os.path.join(out, "results"), ",".join(keys)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    passed = set(re.findall(r"^PASS (\S+)", p.stdout, re.M))
    bad = [k for k in keys if k not in passed]
    if bad:
        sys.stderr.write(p.stdout)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    bdir = build_dir()
    cp, stamp = build(bdir)
    t_built = time.time()

    data = inputs(bdir, a.workload, a.seed)
    run_dir = os.path.join(bdir, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    work, out, tmp = (os.path.join(run_dir, d) for d in ("work", "out", "tmp"))
    for d in (work, out, tmp):
        os.makedirs(d)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", f"-Xmx{driver_mem()}", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--out", out]
    budget = DEADLINE_S - (time.time() - t_built)
    try:
        p = subprocess.run(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=budget)
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} did not finish within {DEADLINE_S}s", 1)
    res_path = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.isfile(res_path):
        fail(f"{a.workload} JVM exited with {p.returncode} and no result", 1)
    with open(res_path) as f:
        res = json.load(f)

    failed = res["failed"]
    bad_keys = []
    if res["oracle_keys"]:
        t = time.time()
        bad_keys = oracle_failures(data, out, res["oracle_keys"])
        log(f"oracle check took {time.time() - t:.1f}s")
        failed = min(res["attempted"], failed + sum(res["op_kinds"].get(k, 0) for k in bad_keys))
    attempted = res["attempted"]
    correct = attempted > 0 and failed == 0 and res["final_check_ok"] and not bad_keys

    section = "per_layer" if a.trace else "end_to_end"
    wanted = [m["name"] for m in spec[section]]
    missing = [n for n in wanted if n not in res[section]]
    if missing:
        fail(f"result lacks {section} metrics: {missing}", 1)
    metrics = {n: res[section][n] for n in wanted}
    detail = dict(res["detail"])
    detail["failed_frac"] = {"value": failed / attempted if attempted else 0.0, "unit": "ratio"}
    box = dict(res["box"], mem_total_kb=mem_total_kb(), driver_mem=driver_mem(),
               sources_sha256=stamp, git_commit=git_commit(), seed=a.seed,
               wall_s=round(time.time() - t_start, 3))
    print(json.dumps({"workload": a.workload, "detail": detail, "box": box,
                      "headline_samples": res["headline_samples"],
                      "oracle_failures": bad_keys}))
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
