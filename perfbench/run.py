#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {registry,board} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run compiles the program and
the harness from source with the Scala compiler that ships in Spark's
jars, into .bench_build/perfbench/classes; later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed
and cached under .bench_build/perfbench/. The last line of standard
output is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics untraced, per-layer metrics traced). The line before
it is the run's evidence block (core count, session configuration,
calibration samples before and after the timed phase, trace details).

    python3 perfbench/run.py --workload board --pin
re-pins the board slice's expected row counts and row hashes from the
current program into perfbench/expected/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None
WORK = ROOT / ".bench_build" / "perfbench"
CLASSES = WORK / "classes"
STAMP = WORK / "classes.stamp"
# The program's build reads Spark, and the Scala library and compiler
# of the same version, from the image's Spark jars.
SPARK_JARS = Path("/opt/spark/jars")
FIXTURE = HERE / "fixture" / "sf0.01"
EXPECTED = HERE / "expected" / "board_sf0.01.tsv"

# Corpus size (trials): GenCorpus records average ~1.9 KB, 2.5 per trial,
# so one corpus is ~24 MB.
TRIALS = 5000
CACHED_CORPORA = 8
JVM_HEAP = "3g"
# Everything after the build (corpus generation and the measuring
# process) must end within this many seconds.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
DEADLINE = None

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sources():
    return sorted(p for base in (ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala")
                  for p in base.rglob("*.scala"))


def source_stamp(srcs):
    """Hash of every input of the build."""
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness with scalac in a plain JVM:
    no build tool, and nothing written outside .bench_build."""
    cp = f"{CLASSES}{os.pathsep}{SPARK_JARS}/*"
    srcs = sources()
    stamp = source_stamp(srcs)
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == stamp:
        return cp
    if not list(SPARK_JARS.glob("scala-compiler-*.jar")):
        fail(f"no Scala compiler among {SPARK_JARS}")
    log(f"compiling {len(srcs)} sources (program + harness)")
    t0 = time.time()
    WORK.mkdir(parents=True, exist_ok=True)
    out = WORK / "classes.new"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir()
    (WORK / "tmp").mkdir(exist_ok=True)
    args = WORK / "scalac.args"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    p = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'tmp'}",
         "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(out), f"@{args}"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    STAMP.unlink(missing_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    out.rename(CLASSES)
    STAMP.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, main, args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dderby.system.home=" + str(work / "derby")]
            + opens + ["-cp", cp, main] + args)


def remaining():
    return max(1.0, DEADLINE - time.time())


def corpus(cp, seed, trials):
    """Path of the seeded corpus, generating it on first use. Only the
    most recently used corpora stay cached (each is ~24 MB)."""
    path = WORK / "corpus" / f"c{seed}-{trials}.txt"
    if path.exists():
        path.touch()
    else:
        cached = sorted(path.parent.glob("c*.txt"), key=lambda p: p.stat().st_mtime)
        for old in cached[:-CACHED_CORPORA]:
            old.unlink()
        t0 = time.time()
        try:
            p = subprocess.run(java_cmd(cp, "perfbench.SeededCorpus",
                                        [str(path), str(seed), str(trials)], WORK),
                               stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
                               stdin=subprocess.DEVNULL, timeout=remaining())
        except subprocess.TimeoutExpired:
            fail(f"corpus generation exceeded the run's {RUN_TIMEOUT_S} s")
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            fail(f"corpus generation exited {p.returncode}")
        log(f"generated {path.name} in {time.time() - t0:.1f} s")
    return path


def warm_seed(seed):
    """The second corpus of a registry run: another seed, another path."""
    return (seed * 1000003 + 7919) % (1 << 62)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["registry", "board"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or SPEC is None:
        fail(f"{ROOT} holds no graft sources or no BENCHMARK.json: nothing to measure")

    cp = build()
    global DEADLINE
    DEADLINE = time.time() + RUN_TIMEOUT_S
    run_dir = WORK / f"run-{a.workload}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(run_dir)]
    if a.workload == "registry":
        args += ["--trials", str(TRIALS), "--warm-seed", str(warm_seed(a.seed)),
                 "--corpus", str(corpus(cp, a.seed, TRIALS)),
                 "--warm-corpus", str(corpus(cp, warm_seed(a.seed), TRIALS))]
    else:
        args += ["--fixture", str(FIXTURE), "--expected", str(EXPECTED)]
        if a.pin:
            args += ["--pin", "1"]

    jlog = WORK / f"jvm-{a.workload}.log"
    spawn = time.time()
    with open(jlog, "w") as err:
        p = subprocess.Popen(java_cmd(cp, "perfbench.Main", args, run_dir), cwd=run_dir,
                             stdout=subprocess.PIPE, stderr=err, text=True,
                             stdin=subprocess.DEVNULL)
        try:
            out, _ = p.communicate(timeout=remaining())
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"benchmark process exceeded {RUN_TIMEOUT_S} s (log: {jlog})")
    reports = [l[len("PERFBENCH_REPORT "):] for l in out.splitlines()
               if l.startswith("PERFBENCH_REPORT ")]
    if p.returncode != 0 or not reports:
        sys.stderr.write(jlog.read_text()[-4000:])
        fail(f"benchmark process exited {p.returncode} without a report")
    if a.pin:
        log(f"pinned {EXPECTED}")
        return
    rep = json.loads(reports[-1])

    measured = {k: v["value"] for k, v in rep["metrics"].items()}
    if a.trace:
        wanted = SPEC["per_layer"]
    else:
        wanted = SPEC["end_to_end"]
        measured["setup_s"] = rep["first_op_epoch_s"] - spawn
    # a traced run reports every per-layer metric: the layers of the
    # other workload read 0
    out_metrics = {m["name"]: {"value": measured.get(m["name"], 0), "unit": m["unit"]}
                   for m in wanted if a.trace or m["name"] in measured}
    evidence = dict(rep["evidence"], workload=a.workload, seed=a.seed,
                    failures=rep["failures"], measured=sorted(measured))
    print("PERFBENCH_EVIDENCE " + json.dumps(evidence, sort_keys=True))
    correct = rep["failed"] == 0 and rep["checks_ok"] and rep["attempted"] >= 1
    print(json.dumps({"correct": correct, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": out_metrics}))


if __name__ == "__main__":
    main()
