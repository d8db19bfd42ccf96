#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <sheet_crud|llm_corpus>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness (`perfbench/build.sbt`); later runs reuse the build while
the sources are unchanged. Each run generates its inputs from the seed,
starts one JVM for the workload with its own `java.io.tmpdir` and Spark
local dir under `perfbench/.work/`, checks the outputs with DuckDB, and
removes its scratch. `--trace 1` runs the traced mode and prints the
per-layer metrics; its spans are kept in `perfbench/.work/`.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch")
HEAP = "3g"
# Spark task threads: half of this 4-core box, so the JIT compiler and GC
# threads and the rest of the machine do not steal from the tasks
CPUS = 2
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 850
# each workload's inputs: the tables it reads, each at its scale × sf0.1
# (`documents` brings the corpus: documents and embeddings), the corpus
# tiled `tile` times
INPUTS = {"sheet_crud": dict(tables={"orders": 0.1}),
          "llm_corpus": dict(tables={"documents": 0.2, "events": 0.05}, tile=2)}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless already built from
    the same sources; write the launch files."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no program to build here: run from the root of a checkout")
    digest = sources_digest()
    stamp = os.path.join(LAUNCH, "digest")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile", "writeLaunch"], cwd=HERE, env=env,
                            stdout=out, stderr=subprocess.STDOUT,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def java_cmd(args, run_dir, gen_s):
    with open(os.path.join(LAUNCH, "javaopts.txt")) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith(("-Xmx", "-Xms"))]
    cp = open(os.path.join(LAUNCH, "classpath.txt")).read().strip()
    cpus = min(CPUS, os.cpu_count() or 1)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + opts +
            # no hsperfdata file in the system temp dir
            ["-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
             # keep every scratch dir under the run dir: never /dev/shm
             f"-Dgraft.scratch.shmMinBytes={2 ** 62}",
             "-cp", cp, "graft.perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", f"{run_dir}/data", "--out", run_dir,
             "--cpus", str(cpus), "--gen-s", f"{gen_s:.6f}"])


def sweep():
    """Remove the scratch of earlier runs that did not clean up."""
    for d in glob.glob(os.path.join(WORK, "run-*")):
        shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build()
    sweep()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "local"))
    try:
        t0 = time.time()
        make_up = gen.generate(os.path.join(run_dir, "data"), args.seed,
                               **INPUTS[args.workload])
        gen_s = time.time() - t0
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            p = subprocess.Popen(java_cmd(args, run_dir, gen_s), env=env,
                                 stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        res_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.isfile(res_path):
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-6000:])
            fail(f"workload JVM ended with {rc}")
        with open(res_path) as f:
            res = json.load(f)
        problems = list(res["mismatches"])
        if args.workload != "sheet_crud":
            bad = checks.check(os.path.join(run_dir, "data"), run_dir)
            problems += [f"{q}: {p}" for q, p in bad]
            # a query whose output fails its check counts as failed in
            # every measured pass it ran in
            for q, _ in bad:
                t = res["by_type"].get(q)
                if t:
                    res["failed"] += t["attempted"] - t["failed"]
                    t["failed"] = t["attempted"]
        if args.trace:
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(WORK, f"spans-{args.workload}.json"))
        for q, t in sorted(res["by_type"].items()):
            print(f"op {q}: attempted {t['attempted']} failed {t['failed']}")
        for p in problems:
            print(f"check failed: {p}")
        print(f"inputs: {json.dumps(make_up)}")
        print(f"passes: {res['passes']} measured; wall s {res['pass_walls_s']}; "
              f"cpu s {res['pass_cpus_s']}; setup parts s {res['setup_parts_s']}")
        # the metrics BENCHMARK.json names, in its units; a per-layer
        # metric of a layer this workload does not load reads 0
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        got = res["per_layer"] if args.trace else res["end_to_end"]
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer" if args.trace else "end_to_end"]}
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
