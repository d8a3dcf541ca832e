#!/usr/bin/env python3
"""Repository benchmark: refresh and serve workloads (see README.md).

Usage (from the repository root):

    python3 perfbench/run.py --workload refresh|serve --seed N \
        --seconds S --trace 0|1 [--scale sf0.01]

Builds the engine and the benchmark harness from source with the Scala
compiler that ships in Spark's jars (once per source tree), then runs the
workload in a fresh JVM whose temp directory is deleted afterwards. The
last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 1 it runs the
workload traced, writes the spans to perfbench/traces/, and reports the
per-layer metrics; trace.overhead_frac compares its throughput with the
median untraced run of the same build (one is made first if none was).

Environment: SPARK_HOME (or spark-submit on PATH) locates Spark's jars;
GRAFT_TESTDATA overrides the testdata root (default: ~/testdata, holding
sf0.001, sf0.01 and sf0.1, see TESTDATA.md).
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
TRACES = BENCH / "traces"
WORKLOADS = ("refresh", "serve")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or "", "jars")
    if not home or not jars.is_dir():
        fail("Spark's jars not found: set SPARK_HOME")
    return sorted(jars.glob("*.jar"))


def testdata(scale):
    d = Path(os.environ.get("GRAFT_TESTDATA", Path.home() / "testdata")) / scale
    if not (d / "documents.parquet").exists():
        fail(f"testdata not found at {d}: set GRAFT_TESTDATA")
    return d


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        fail(f"engine sources not found under {ROOT}")
    return engine + sorted((BENCH / "src").rglob("*.scala"))


def build(jars):
    """Compile engine + harness into a directory keyed by the sources."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old)
    for old in BUILD.glob("untraced-*.json"):
        old.unlink()
    out.mkdir()
    tool = [j for j in jars if j.name.split("-")[1] in ("compiler", "library", "reflect")
            and j.name.startswith("scala-")]
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(map(str, tool)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", ":".join(map(str, jars)), f"@{argfile}"]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out)
        fail("compilation failed")
    (out / ".done").write_text("")
    print(f"# built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def java(classpath, args, run_dir, timeout=RUN_TIMEOUT_S):
    """Run the harness in a fresh JVM confined to run_dir; wait for it."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-Xss8m",
           *[a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with {p.returncode}")


def run_once(classpath, a, trace, scale_dir, verify=True):
    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        java(classpath, ["perfbench.Main", "--workload", a.workload,
                         "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(trace), "--data", str(scale_dir),
                         "--cpus", str(os.cpu_count()), "--out", str(run_dir),
                         "--verify", str(int(verify))],
             run_dir)
        res = json.loads((run_dir / "result.json").read_text())
        if trace:
            TRACES.mkdir(exist_ok=True)
            shutil.copy(run_dir / "spans.jsonl",
                        TRACES / f"{a.workload}-seed{a.seed}.jsonl")
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    jars = spark_jars()
    scale_dir = testdata(a.scale)
    classes = build(jars)
    classpath = ":".join([str(classes)] + [str(j) for j in jars])

    load0 = os.getloadavg()
    # untraced throughput of this build and setting, the base of
    # trace.overhead_frac
    history = BUILD / f"untraced-{a.workload}-{a.scale}-{a.seconds:g}-{classes.name}.json"
    seen = json.loads(history.read_text()) if history.exists() else []
    names = spec["end_to_end"]
    if not a.trace:
        res = run_once(classpath, a, 0, scale_dir)
        history.write_text(json.dumps(seen + [res["end_to_end"]["ops_per_s"]]))
    else:
        if not seen:
            # no untraced run of this build yet: make one (checks run in
            # the traced run)
            seen = [run_once(classpath, a, 0, scale_dir, verify=False)["end_to_end"]["ops_per_s"]]
        res = run_once(classpath, a, 1, scale_dir)
        seen.sort()
        base = seen[len(seen) // 2]
        res["per_layer"]["trace.overhead_frac"] = base / res["end_to_end"]["ops_per_s"] - 1
        names = spec["per_layer"]
    load1 = os.getloadavg()

    values = dict(res["end_to_end"])
    values["ok_frac"] = 1 - res["failed"] / max(1, res["attempted"])
    values.update(res["per_layer"])
    for f in res["failures"]:
        print(f"# FAIL {f}")
    print(f"# workload={a.workload} seed={a.seed} nproc={os.cpu_count()} "
          f"loadavg_start={load0[0]:.2f} loadavg_end={load1[0]:.2f} "
          f"session_s={res['session_s']:.3f} setup_runs_s={res['setup_runs_s']} "
          f"input_gen_s={res['input_gen_s']:.3f} verify_s={res['verify_s']:.3f} "
          f"ops={res['ops']} timed_wall_s={res['timed_wall_s']:.3f}")
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in names}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
