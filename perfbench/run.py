#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the engine
and the harness from source (sbt, offline) and writes the catalogue's input
tables; later runs reuse both while the sources are unchanged. A run writes
only under `.bench_build/` and sbt's build directories inside `perfbench/`.

The JVM prints one JSON line per metric ({"workload", "name", "unit",
"value"}); this script relays them and prints the result object
({"correct", "attempted", "failed", "metrics"}) as the last line.

Developer modes (not used by a benchmark run):
    --self-check   same seed gives the same input digest, another seed another
    --make-digest  oracle-check the catalogue subset with scripts/check.py,
                   then rewrite perfbench/catalog_digest.txt
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
DIGEST = os.path.join(BENCH, "catalog_digest.txt")
WORKLOADS = ["query_catalog", "ingest_write_read"]
HEAP = "3g"
RUN_BUDGET_S = 170  # a run must end within 180 s; the build is not counted

# Spark on JDK 17 outside spark-submit needs these (as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine's main sources with the harness.

    Returns (classpath, whether this call built)."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = tree_hash([ENGINE_SRC, os.path.join(BENCH, "src"),
                       os.path.join(BENCH, "build.sbt"),
                       os.path.join(BENCH, "project", "build.properties")])
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), False
    log("building engine + harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cp = [l for l in lines if not l.startswith("[") and "classes" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1], True


def tables():
    """The catalogue's generated input tables (fixed data seed)."""
    gen = os.path.join(BENCH, "gen_tables.py")
    d = os.path.join(OUT, "tables")
    stamp_file = os.path.join(d, "gen.stamp")
    stamp = tree_hash([gen])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return d
    shutil.rmtree(d, ignore_errors=True)
    subprocess.run([sys.executable, gen, d], check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return d


def java(cp, work, main, args, timeout):
    """Runs one JVM in its own process group; returns (rc, stdout)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        f"-Dderby.system.home={tmp}", "-cp", cp, main] + args
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=errf, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            out, _ = p.communicate()
            log(f"{main} killed after {timeout:.0f} s")
    with open(os.path.join(work, "jvm.log")) as f:
        err = f.read()
    sys.stderr.write("".join(l + "\n" for l in err.splitlines() if l.startswith("[graftbench]")))
    if p.returncode != 0:
        sys.stderr.write(err[-3000:])
    return p.returncode, out


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def run_workload(a):
    started = time.time()
    cp, built = build()
    tdir = tables()
    work = fresh_dir(os.path.join(OUT, "work", a.workload))
    budget = RUN_BUDGET_S if built else RUN_BUDGET_S - (time.time() - started)
    rc, out = java(cp, work, "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--tables", tdir, "--work", work, "--digest", DIGEST],
        timeout=max(30, budget))
    objs = []
    for line in out.splitlines():
        try:
            o = json.loads(line)
        except ValueError:
            continue
        if isinstance(o, dict):
            objs.append(o)
    result = [o for o in objs if "correct" in o]
    if rc != 0 or not result:
        sys.exit(f"perfbench: {a.workload} produced no result (rc {rc})")
    if a.trace:
        spans = os.path.join(work, f"spans-{a.workload}-{a.seed}.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(OUT, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, keep)
    shutil.rmtree(work, ignore_errors=True)
    for o in objs:
        if "correct" not in o:
            print(json.dumps(o, separators=(",", ":")))
    print(json.dumps(result[-1], separators=(",", ":")), flush=True)


def self_check():
    cp, _ = build()
    tdir = tables()
    work = fresh_dir(os.path.join(OUT, "work", "self_check"))
    ok = True
    for w in WORKLOADS:
        digests = []
        for seed in (1, 1, 2):
            rc, out = java(cp, work, "graftbench.Main", [
                "--workload", w, "--seed", str(seed), "--tables", tdir, "--inputs-only", "1"],
                timeout=120)
            digests.append(json.loads(out.strip().splitlines()[-1])["input_digest"])
        same, differ = digests[0] == digests[1], digests[0] != digests[2]
        ok &= same and differ
        print(json.dumps({"workload": w, "seed1": digests[0], "seed1_again": digests[1],
                          "seed2": digests[2], "same_seed_same": same,
                          "other_seed_differs": differ}))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


def make_digest():
    """Verify runs the subset, scripts/check.py compares it with DuckDB, and
    only a passing subset gets its digests written."""
    cp, _ = build()
    tdir = tables()
    work = fresh_dir(os.path.join(OUT, "work", "digest"))
    rc, out = java(cp, work, "graftbench.MakeDigest", ["--tables", tdir, "--out",
                                                       os.path.join(work, "verify")], 3000)
    if rc != 0:
        sys.exit("perfbench: Verify of the subset failed")
    check = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), tdir,
                            os.path.join(work, "verify")], stdout=sys.stderr)
    if check.returncode != 0:
        sys.exit("perfbench: the DuckDB oracle rejected the subset; digest not written")
    with open(DIGEST, "w") as f:
        f.write("".join(l + "\n" for l in out.splitlines()
                        if l.startswith("#") or l.startswith("q_")))
    shutil.rmtree(work, ignore_errors=True)
    log(f"wrote {DIGEST}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--make-digest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        sys.exit(f"perfbench: engine sources not found under {ENGINE_SRC}; "
                 "run from the repository root")
    if a.self_check:
        self_check()
    elif a.make_digest:
        make_digest()
    elif a.workload:
        run_workload(a)
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()
