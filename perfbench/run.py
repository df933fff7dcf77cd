#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the engine and
the benchmark's own code with sbt (offline) into $CARGO_TARGET_DIR
(default .bench_build); later runs reuse the build while the sources are
unchanged. Each run starts one JVM holding a local[nproc] Spark session,
drives one workload as a closed loop and checks its outputs. Human-readable
metrics go to stdout first; the last stdout line is one JSON object with
the keys correct, attempted, failed and metrics (the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1).
The full run record (and, traced, the spans file) is kept under
<build dir>/runs/. Exits non-zero on any correctness mismatch.
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
ROOT = os.getcwd()
WORKLOADS = ("ingest", "analytics", "curation")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# the workloads listed in BENCHMARK.json must end within 180 s;
# curation's store build plus its rounds needs longer (see NOTES.md)
RUN_LIMIT_S = {"ingest": 170, "analytics": 170, "curation": 600}
BUILD_LIMIT_S = 700


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, limit, **kw):
    """Run cmd in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compile engine + benchmark once per source state; return the classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    env["CARGO_TARGET_DIR"] = os.path.relpath(build_dir, ROOT)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.forcestart=false", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_LIMIT_S, cwd=HERE, env=env,
                         stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if "perfbench-target" in l and ":" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def unit_of(name):
    """Unit of a recorded metric that BENCHMARK.json does not list."""
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"),
                         ("_per_input_byte", "B/B"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return ""


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump", help="also write every query result under this directory "
                    "(golden regeneration, see tools/crosscheck.py)")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine) or not os.path.isfile(spec_path):
        fail("run from the root of a checkout: engine sources or BENCHMARK.json missing")
    with open(spec_path) as f:
        spec = json.load(f)

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    rec_dir = os.path.join(build_dir, "runs", tag)
    work = os.path.join(build_dir, "work", tag)
    tmp = os.path.join(build_dir, "tmp", tag)
    for d in (rec_dir, work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # no hsperfdata file in the system temp dir: the run writes
           # only inside its checkout
           ["-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), os.path.join(HERE, "data", "sf0.01"), work,
            os.path.join(HERE, "golden"), rec_dir] + ([os.path.abspath(a.dump)] if a.dump else []))
    t0 = time.time()
    with open(os.path.join(rec_dir, "jvm.log"), "w") as log:
        rc = run_bounded(cmd, RUN_LIMIT_S[a.workload], cwd=tmp, env=env, stdout=log,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    rec_file = os.path.join(rec_dir, "record.json")
    if rc != 0 or not os.path.exists(rec_file):
        with open(os.path.join(rec_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"workload run failed (rc={rc})", 1)
    with open(rec_file) as f:
        rec = json.load(f)
    rec.update(git_commit=git_commit(), nproc=nproc, process_s=time.time() - t0)
    with open(rec_file, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)

    group = "per_layer" if a.trace else "end_to_end"
    values = rec[group]
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"nproc={nproc} commit={rec['git_commit']}")
    for k in ("before", "after"):
        h = rec["host"][k]
        print(f"  host.{k}: loadavg={h['loadavg']} canary_s={h['canary_s']:.4f}")
    print(f"  host.steal_share: {rec['host']['steal_share']:.4f}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k in sorted(values):
        print(f"  {k} = {values[k]} {units.get(k) or unit_of(k)}")
    print(f"  attempted={rec['attempted']} failed={rec['failed']} "
          f"failed_ratio={rec['end_to_end'].get('failed_ratio')}")
    for fl in rec["failures"]:
        print(f"  FAILED {fl['op']}: {fl['error']}")
    print(f"  record: {os.path.relpath(rec_file, ROOT)}")

    missing = [m["name"] for m in spec[group] if values.get(m["name"]) is None]
    if missing:
        fail(f"metrics missing from the run: {missing}", 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[group]}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
