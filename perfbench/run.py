#!/usr/bin/env python3
"""The repository benchmark: ingest waves, served status reads and a fixed
query list, measured end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest|queries --seed N \
        --seconds S --trace 0|1

The first run builds the library and the harness from source with sbt
(perfbench/harness); later runs reuse the build while the sources are
unchanged. Each run works in its own directory under .perfbench/work and
deletes it at the end. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (and the spans go
to .perfbench/traces/).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("ingest", "queries")
# Set-up is repeated this many times per run; setup_s reports the median.
SETUP_REPS = 3
# A run ends within RUN_BUDGET_S of the end of the build; the first run in a
# checkout also builds, within BUILD_TIMEOUT_S.
RUN_BUDGET_S = 170
BUILD_TIMEOUT_S = 700

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def benchmark_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp(root):
    """Hash of every input of the build: library and harness sources and
    build files."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), HARNESS]
    for top in tops:
        for d, dirs, files in os.walk(top):
            # build outputs: any target/, and sbt's project/project/
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             (x != "project" or d == HARNESS))
            for name in sorted(files):
                if name.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, name)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def run_checked(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build(root):
    """sbt build of the harness (library sources included); returns the
    runtime classpath."""
    target = os.path.join(HARNESS, "target")
    stamp_file = os.path.join(target, "perfbench.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out, _ = run_checked(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=HARNESS, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0 or not os.path.exists(cp_file):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def remaining(deadline):
    left = deadline - time.monotonic()
    if left <= 0:
        fail("run budget exhausted")
    return left


def gen_tables(work, seed):
    """Generate the query tables SETUP_REPS times; returns the data dir and
    the median generation time, wall and CPU."""
    import gen_tables
    walls, cpus = [], []
    for i in range(SETUP_REPS):
        data = os.path.join(work, f"data-{i}")
        t0, c0 = time.monotonic(), time.process_time()
        gen_tables.write(data, seed)
        walls.append(time.monotonic() - t0)
        cpus.append(time.process_time() - c0)
        if i + 1 < SETUP_REPS:
            shutil.rmtree(data)
    return data, statistics.median(walls), statistics.median(cpus)


def oracle_check(root, data, work, deadline):
    """DuckDB compare of the list's results (tools/check_oracle.py).
    Returns (compared, failed, failure lines)."""
    oracle_dir = os.path.join(work, "oracle")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        compared = len(json.load(f))
    code, out, err = run_checked(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"), data,
         oracle_dir], remaining(deadline), stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    fails = [ln.strip() for ln in out.splitlines() if ln.strip().startswith("FAIL")]
    oks = sum(1 for ln in out.splitlines() if ln.strip().startswith("OK "))
    if code != 0 and not fails:
        fails = [f"check_oracle exited {code}: {err.strip()[-300:]}"]
    missing = compared - oks - len(fails)
    return compared, len(fails) + max(0, missing), fails


def main():
    # a SIGTERM unwinds like an error, so the harness JVM is killed and
    # waited for and the work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    for need in ("build.sbt", "src/main/scala/graft", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout")
    spec = benchmark_spec(root)
    names = [m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]

    cp = build(root)
    deadline = time.monotonic() + RUN_BUDGET_S
    work = os.path.join(root, ".perfbench", "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_wall_s = gen_cpu_s = 0.0
        data = None
        if a.workload == "queries":
            data, gen_wall_s, gen_cpu_s = gen_tables(work, a.seed)
        trace_out = None
        if a.trace:
            traces = os.path.join(root, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            trace_out = os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")
        out_file = os.path.join(work, "outcome.json")
        n = cores()
        cmd = (["java", "-Xmx4g",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Bench",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--out", out_file, "--cores", str(n)]
               + (["--data", data] if data else [])
               + (["--trace-out", trace_out] if trace_out else []))
        t0 = time.monotonic()
        code, _, _ = run_checked(cmd, remaining(deadline),
                                 stdout=sys.stderr, stderr=sys.stderr)
        launch_s = time.monotonic() - t0
        if code != 0 or not os.path.exists(out_file):
            fail(f"harness exited {code}")
        with open(out_file) as f:
            o = json.load(f)
        attempted, failed = o["attempted"], o["failed"]
        notes = list(o["notes"])
        if a.workload == "queries":
            compared, bad, lines = oracle_check(root, data, work, deadline)
            attempted += compared
            failed += bad
            notes += lines
        for note in notes:
            print(f"perfbench: check failed: {note}", file=sys.stderr)
        e2e = dict(o["e2e"])
        e2e["setup_s"] += gen_cpu_s
        e2e["ok_share"] = (attempted - failed) / attempted if attempted else 0.0
        layer = dict(o["layer"])
        layer["failed_share"] = failed / attempted if attempted else 1.0
        layer["setup_wall_s"] += gen_wall_s
        values = e2e if a.trace == 0 else layer
        units = {m["name"]: m["unit"] for m in
                 spec["end_to_end"] + spec["per_layer"]}
        metrics = {k: {"value": values.get(k, 0.0), "unit": units[k]}
                   for k in names}
        print(f"perfbench: {a.workload} seed={a.seed} harness {launch_s:.1f}s",
              file=sys.stderr)
        print(json.dumps({"correct": failed == 0 and attempted > 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
