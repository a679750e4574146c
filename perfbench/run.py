#!/usr/bin/env python3
"""Benchmark of the ETL engine: one workload per invocation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark code from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Inputs are generated
from the seed under .perfbench_work/ and deleted when the run ends. The
JVM runs the workload at four local cores and writes its artifact;
query results are then checked against their DuckDB oracles. The full
artifact (confs, load average, every op, every check, spans with job
span and driver gap) is written to .perfbench_out/W-traceT.json.

The last line of stdout is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics
when --trace 1 (see perfbench/README.md for what each one means).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# Input sizes per workload (see README.md for how they were chosen).
ETL_ORDERS = 2000
STAR_SF = 0.02

WORKLOADS = ["etl_refresh", "star_lakehouse"]

END_TO_END = {"setup_s": "s", "op_geomean_s": "s", "mix_s": "s", "heap_peak_mb": "MB"}

BUILD_DIR = ".bench_build"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root: str) -> str:
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for pattern in ["src/main/**/*.scala", "src/main/**/*.java", "perfbench/src/**/*.scala"]:
        files += sorted(os.path.relpath(p, root)
                        for p in glob.glob(os.path.join(root, pattern), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root: str) -> str:
    """Compile the engine and the benchmark; return the runtime classpath.

    Class directories are packed into jars so the JVM can map the loaded
    classes from a class-data-sharing archive (see `cds_flags`)."""
    out = os.path.join(root, BUILD_DIR)
    cp_file, stamp = os.path.join(out, "classpath.txt"), os.path.join(out, "source.sha256")
    digest = source_hash(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "jars"))
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    sbt_cp = os.path.join(HERE, "target", "classpath.txt")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(sbt_cp):
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    entries = []
    for i, entry in enumerate(open(sbt_cp).read().strip().split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(out, "jars", f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in os.walk(entry):
                    for f in sorted(files):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        entries.append(entry)
    with open(cp_file, "w") as fh:
        fh.write(os.pathsep.join(entries))
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip()


def cds_flags(root: str) -> list:
    """The first run after a build dumps the classes it loaded into an
    archive when its JVM exits; every later run maps them from it, which
    halves the JVM's cold start. An unusable archive is ignored by the
    JVM."""
    archive = os.path.join(root, BUILD_DIR, "classes.jsa")
    tried = archive + ".tried"
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}"]
    if os.path.exists(tried):
        return []
    open(tried, "w").close()
    return [f"-XX:ArchiveClassesAtExit={archive}"]


def make_inputs(workload: str, seed: int, data: str) -> None:
    tables = os.path.join(data, "tables")
    if workload == "etl_refresh":
        inv = gen.olist_csvs(os.path.join(data, "raw"), seed, ETL_ORDERS)
        with open(os.path.join(data, "invariants.txt"), "w") as fh:
            fh.writelines(f"{k}={v!r}\n" for k, v in inv.items())
    else:
        gen.star_tables(tables, seed, STAR_SF)


def run_jvm(root: str, cp: str, args: argparse.Namespace, data: str, work: str, out: str,
            deadline: float) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a pre-sized heap keeps heap growth out of the loop; no perf data
    # file, so nothing is written outside the checkout
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + cds_flags(root) + [
        "-cp", cp, "graft.perfbench.Bench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", os.path.join(work, "spark"), "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("workload timed out")
    if p.returncode != 0 or not os.path.exists(out):
        lines = open(log, errors="replace").read().splitlines()
        sys.stderr.write("\n".join([x for x in lines if not x.startswith("\t")][-40:]) + "\n")
        fail(f"workload exited with {p.returncode}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.exists(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: the engine sources are not here")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
    cp = build(root)

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    art_path = os.path.join(work, "artifact.json")
    try:
        t0 = time.time()
        make_inputs(args.workload, args.seed, data)
        t1 = time.time()
        run_jvm(root, cp, args, data, work, art_path, t0 + RUN_TIMEOUT_S)
        t2 = time.time()
        with open(art_path) as fh:
            art = json.load(fh)
        checks = art["checks"]
        results = os.path.join(work, "spark", "results")
        if os.path.isdir(results):
            for name, diff in oracle.check(os.path.join(data, "tables"), results).items():
                checks.append({"name": f"oracle.{name}", "ok": diff == "", "detail": diff})
        art.update(inputs_s=t1 - t0, jvm_s=t2 - t1, oracle_s=time.time() - t2)
        ops = art["ops"]
        failed_ops = sum(1 for o in ops if not o["ok"])
        failed_checks = sum(1 for c in checks if not c["ok"])
        attempted, failed = len(ops) + len(checks), failed_ops + failed_checks
        art["failed_ratio"] = failed / attempted
        with open(os.path.join(root, ".perfbench_out",
                               f"{args.workload}-trace{args.trace}.json"), "w") as fh:
            json.dump(art, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".perfbench_work"))
        except OSError:
            pass

    for c in checks:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail'][:300]}", file=sys.stderr)
    if args.trace:
        with open(os.path.join(HERE, "layers.json")) as fh:
            units = {m: spec["unit"] for m, spec in json.load(fh).items()}
        values = art["per_layer"]
    else:
        units, values = END_TO_END, art["end_to_end"]
    metrics = {m: {"value": values[m], "unit": u} for m, u in units.items()}
    print(f"workload={args.workload} seed={args.seed} ops={len(ops)} "
          f"checks={len(checks)} failed_ratio={failed / attempted:.4f} "
          f"load_avg={art['load_avg_start']:.2f}->{art['load_avg_end']:.2f}")
    for m, v in metrics.items():
        print(f"  {m} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
