#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run, one JSON result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It compiles the program (`src/main/scala`) and the harness
(`perfbench/harness`) with the Scala compiler that ships with the Spark
jars, into `$CARGO_TARGET_DIR` (default `.bench_build`), and reuses that
build while the sources are unchanged. It then starts one JVM that sets the
workload up, measures it for the given seconds and checks its outputs, and
prints the metrics: with `--trace 0` the end-to-end ones, with `--trace 1`
the per-layer ones, whose spans and job counters it also writes to
`<build dir>/traces/`. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes stays under the build directory.
"""

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

WORKLOADS = ["hockey-fast", "gates-sf0.01"]
RUN_LIMIT_S = 170
XMX = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jars to compile and run against: `$SPARK_HOME/jars`, else
    the `unmanagedBase` directory that the repository's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = root / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            fail("SPARK_HOME is unset and build.sbt names no unmanagedBase: run from a checkout root")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources(root):
    prog = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((root / "perfbench" / "harness").glob("*.scala"))
    if not prog:
        fail("no program sources under src/main/scala: run from a checkout root")
    if not harness:
        fail("no harness sources under perfbench/harness")
    return prog, harness


def source_digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-cp", classpath, f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail(f"compilation into {out} failed")


def build(root, build_dir, jars):
    """Compiles program and harness unless the stamped digest matches."""
    prog, harness = sources(root)
    digest = source_digest(root, prog + harness)
    stamp = build_dir / "stamp"
    classes, hclasses = build_dir / "classes", build_dir / "harness"
    if stamp.exists() and stamp.read_text() == digest and classes.is_dir() and hclasses.is_dir():
        return digest
    for d in (classes, hclasses, stamp):
        if d.is_dir():
            shutil.rmtree(d)
        elif d.exists():
            d.unlink()
    build_dir.mkdir(parents=True, exist_ok=True)
    t = time.time()
    scalac(jars, f"{jars}/*", classes, prog)
    scalac(jars, f"{classes}:{jars}/*", hclasses, harness)
    stamp.write_text(digest)
    print(f"perfbench: built program and harness in {time.time() - t:.1f} s", file=sys.stderr)
    return digest


def commit_of(root):
    """The git commit when the checkout is a repository, else 'unknown'."""
    try:
        res = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        return res.stdout.strip() if res.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(args, root, build_dir, jars, deadline):
    work = build_dir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True)
    out = work / "raw.json"
    # Half the CPUs by default: with every CPU running Spark tasks, the JIT,
    # GC and driver threads contend with them; on a 4-core host hockey runs
    # on 4 Spark cores spread by a quarter, back-to-back runs on 2 by 2 %.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(max(1, len(os.sched_getaffinity(0)) // 2))
    cmd = (["java", f"-Xmx{XMX}", "-Xss8m"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dspark.local.dir={work / 'spark-local'}",
              f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
              f"-Dderby.system.home={work}",
              "-cp", f"{build_dir / 'harness'}:{build_dir / 'classes'}:{jars}/*",
              "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--corpus", str(root / "perfbench" / "corpus" / "sf0.01"),
              "--expected", str(root / "perfbench" / "expected"), "--out", str(out)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    log = work / "jvm.log"
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                proc.wait(timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail("the workload ran past its time limit", 3)
        if proc.returncode != 0 or not out.exists():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"the harness exited with code {proc.returncode}", 3)
        raw = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return raw, cpus


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    started = time.time()

    root = Path.cwd()
    if not (root / "perfbench" / "run.py").is_file():
        fail("run from the root of the checkout")
    jars = spark_jars(root)
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    digest = build(root, build_dir, jars)
    deadline = time.time() + RUN_LIMIT_S - min(30.0, time.time() - started)

    raw, cpus = run_jvm(args, root, build_dir, jars, deadline)
    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "nproc": os.cpu_count(), "spark_graft_cpus": cpus,
             "xmx": XMX, "commit": commit_of(root), "sources_sha256": digest, **raw["env"]}
    print("perfbench: " + json.dumps(stamp))
    ops = {}
    for p in raw["passes"]:
        for op in p["ops"]:
            ops.setdefault(op["name"], []).append(op["s"])
    print("perfbench: setup " + json.dumps([round(x, 3) for x in raw["setup_reps_s"]])
          + " passes " + json.dumps([round(p["wall_s"], 3) for p in raw["passes"]])
          + " ops " + json.dumps({k: [None if x is None else round(x, 3) for x in v]
                                  for k, v in ops.items()}))
    scores = {k: round(v, 6) for k, v in raw["counters"].items() if k.startswith("models.")}
    if scores:
        print("perfbench: model scores " + json.dumps(scores))
    for p in raw["problems"]:
        print(f"perfbench: problem: {p}")

    attempted, failed = int(raw["attempted"]), int(raw["failed"])
    units = dict(metrics.END_TO_END) if not args.trace else dict(metrics.per_layer_names())
    try:
        values = metrics.per_layer(raw, args.workload) if args.trace else metrics.end_to_end(raw)
    except (ValueError, KeyError) as e:
        print(f"perfbench: problem: metrics incomplete: {e}")
        values, failed = {}, failed + 1
        attempted = max(attempted, failed)
    values = {k: float(v) for k, v in values.items() if math.isfinite(v)}
    ok = failed == 0 and set(values) == set(units)
    if args.trace:
        traces = build_dir / "traces"
        traces.mkdir(exist_ok=True)
        (traces / f"{args.workload}-{args.seed}.json").write_text(json.dumps(
            {"stamp": stamp, "spans": raw["spans"], "jobs": raw["jobs"],
             "counters": raw["counters"], "metrics": values}))
    result = {"correct": ok, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": units[k]} for k in units if k in values}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
