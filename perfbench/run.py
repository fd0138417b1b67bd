#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one closed-loop workload per run.

    python3 perfbench/run.py --workload recsys_ref|analytics_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the benchmark driver from source (sbt, offline) and generates the input
tables; both are cached under `.bench_build/` and rebuilt when their
sources change. Every run then launches one JVM (`perfbench.Main`),
whose session is `local[nproc]` with the heap sized from the box.

Prints every metric with its unit, then, as the last line, one JSON
object `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. The full result (all workload metrics, spans, provenance)
goes to `.bench_build/artifacts/`. Exits non-zero when an output check
fails or the run cannot complete.

`--tiny` runs every workload at sf0.001 (the self-check's scale).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GEN_SEED = 42
# workload -> {scale-factor argument: scale factor}
SCALES = {
    "recsys_ref": {"recsys-sf": "0.005"},
    "analytics_mix": {"mix-sf": "0.01", "intake-sf": "0.01"},
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program + driver unless the cached classes match."""
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    stamp = tree_hash(srcs)
    stamp_file = os.path.join(BUILD, "build.stamp")
    classes = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log("building the program and the benchmark driver (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def tables(sf):
    """Generate the fixture-shaped tables for `sf` unless cached."""
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(BUILD, "data", f"sf{sf}")
    stamp = tree_hash([gen]) + f" sf={sf} seed={GEN_SEED}"
    stamp_file = out + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, "--sf", sf, "--seed", str(GEN_SEED),
                        "--out", out], check=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return out


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GB (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def launch(classes, work, timeout_s, args):
    """Run `perfbench.Main` with `args` in a fresh work directory (its temp
    files, Spark local dirs and sinks), which is removed afterwards.
    Returns (exit code, stdout), or (None, partial stdout) on timeout.
    """
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    cmd = ["java", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work, "--cpus", str(nproc())] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, timeout_s))
        code = proc.returncode
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        code = None
    shutil.rmtree(work, ignore_errors=True)
    return code, out


def source_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="run at sf0.001 (self-check scale)")
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"{ROOT} holds no program sources (build.sbt, src/main/scala)")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark install")
    bench_spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_spec):
        fail("BENCHMARK.json is missing")
    with open(bench_spec) as f:
        spec = json.load(f)

    os.makedirs(BUILD, exist_ok=True)
    t_build = time.time()
    classes = build()
    sfs = {k: "0.001" if a.tiny else v for k, v in SCALES[a.workload].items()}
    data_dir = os.path.join(BUILD, "data")
    for sf in set(sfs.values()):
        tables(sf)
    deadline = time.time() + RUN_LIMIT_S - (t_build - t_start)

    heap = heap_gb()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    log(f"{a.workload} seed={a.seed} trace={a.trace} {sfs} "
        f"local[{nproc()}] heap={heap}g")
    code, out = launch(classes, work, deadline - time.time(), [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data_dir,
        "--expected", os.path.join(HERE, "expected", "mix.json")]
        + [x for k, v in sfs.items() for x in (f"--{k}", v)])
    if code is None:
        fail("the run exceeded its time limit", 4)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        fail(f"the benchmark JVM exited {code} without a result", 5)
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    res["provenance"].update({
        "git_sha": source_id(),
        "source_sha256": tree_hash([os.path.join(ROOT, "src", "main")]),
        "heap_gb": heap,
        "generator_seed": GEN_SEED,
        "sf": sfs,
        "traced": bool(a.trace),
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t_start)),
    })
    art_dir = os.path.join(BUILD, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art, "w") as f:
        json.dump(res, f, indent=1)

    for section in ("end_to_end", "per_layer"):
        for k, m in res[section].items():
            print(f"{section:10s} {k:40s} {m['value']} {m['unit']}")
    for msg in res["failures"]:
        print(f"FAILED {msg}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["per_layer"] if a.trace else res["end_to_end"]
    metrics, bad = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None or v["value"] is None or not math.isfinite(v["value"]):
            bad.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    if bad:
        fail(f"metrics not measured: {', '.join(bad)}", 6)
    correct = bool(res["correct"]) and code == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
