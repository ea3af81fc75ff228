#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload stream_backlog|stream_live|query_mix \
      --seed N --seconds S --trace 0|1

The first run in a checkout compiles the program and the benchmark with
sbt (see build.sbt here); later runs reuse the build while no source
changed. query_mix tables are generated once per checkout (gen_tables.py).
See README.md for what each workload measures.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORKLOADS = ("stream_backlog", "stream_live", "query_mix")
JVM_TIMEOUT_S = 170   # a run must end within 180 s
BUILD_TIMEOUT_S = 840
JVM_HEAP = "-Xmx3g"
JVM_FLAGS = ["-Xms3g", "-XX:+UseParallelGC"]  # fixed heap, no concurrent GC threads


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sources():
    """Every file the build reads: the program's and the benchmark's."""
    pats = ["build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, stdout):
    """Run cmd in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT
                         if stdout is not subprocess.PIPE else None,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compile with sbt unless launch.txt was written for these sources."""
    stamp = LAUNCH + ".stamp"
    fp = fingerprint(sources())
    if os.path.exists(LAUNCH) and os.path.exists(stamp) and open(stamp).read() == fp:
        return
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        code, _ = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                            HERE, env, BUILD_TIMEOUT_S, out)
    if code != 0 or not os.path.exists(LAUNCH):
        with open(os.path.join(BUILD, "build.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"sbt build failed (exit {code})")
    with open(stamp, "w") as fh:
        fh.write(fp)


def tables():
    """The query_mix tables, generated once per version of the generator."""
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(BUILD, f"tables-{tag}")
    if not os.path.isdir(out):
        log("generating query_mix tables")
        sys.path.insert(0, HERE)
        import gen_tables
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        gen_tables.generate(out)
    return out


def jvm(args, work, data):
    """One benchmark JVM; returns its result JSON (its last stdout line)."""
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if o]
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", JVM_HEAP] + JVM_FLAGS + opts +
           [f"-Dlog4j.configurationFile={HERE}/log4j2.properties",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", cp, "perfbench.Main", "--work", work, "--data", data,
            "--digests", os.path.join(HERE, "query_digests.tsv")] + args)
    try:
        code, out = run_child(cmd, work, dict(os.environ), JVM_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if code != 0 or not last.startswith("{"):
        fail(f"benchmark JVM failed (exit {code})")
    return json.loads(last)


def check_metrics(res, trace):
    """The result must hold exactly the manifest's metrics of its kind, each
    in its unit: the end-to-end set untraced, the per-layer set traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    want = {m["name"]: m["unit"] for m in manifest["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
    if got != want:
        fail("metrics differ from BENCHMARK.json: missing "
             f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
             f"wrong unit {sorted(k for k in set(want) & set(got) if want[k] != got[k])}")


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to the benchmark in {ROOT}")
    build()
    data = tables() if a.workload == "query_mix" else os.path.join(BUILD, "no-tables")
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    t0 = time.time()
    res = jvm(args, work, data)
    log(f"the JVM ran {time.time() - t0:.1f} s")
    check_metrics(res, a.trace)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
