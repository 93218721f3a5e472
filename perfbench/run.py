#!/usr/bin/env python3
"""The repo benchmark: one command per run.

    python3 perfbench/run.py --workload generate|queries \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest [--seed N]

A run builds the engine with the benchmark JVM code (once per source
state), makes the workload's inputs from the seed, runs the benchmark JVM
in a fresh working directory for a fixed number of timed passes (the
workload's `timed_passes_per_10s` in spec.json, scaled by `--seconds`,
never by the program's speed), checks the outputs, prints every metric
by name with its unit and sample count, and prints as its last line one
JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer ones with
`--trace 1`). The run record, with its spans when traced, is kept under
`perfbench/out/` for `summarize.py`. See `spec.json` for the workloads,
the query-selection rule and the metric registry.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import datagen  # noqa: E402
import metrics  # noqa: E402

SPEC = json.loads((BENCH / "spec.json").read_text())
LAYER_UNITS = {m["name"]: m["unit"] for m in
               json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
SF = SPEC["scale_factor"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(digest):
    """Compile once per source state; later runs reuse the classpath."""
    stamp = BENCH / "target" / "built.stamp"
    cp_file = BENCH / "target" / "classpath.txt"
    if stamp.is_file() and stamp.read_text() == digest and cp_file.is_file():
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    stamp.write_text(digest)
    return cp_file.read_text().strip()


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def run_jvm(cp, workdir, args, timeout):
    """Start the benchmark JVM in `workdir`; returns (record, launch epoch s)."""
    local = workdir / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    out = workdir / "record.json"
    if out.exists():
        out.unlink()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local),
               SPARK_GRAFT_CPUS=str(cpus()))
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={local}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
        "graft.perfbench.Driver"] + args + ["--out", str(out)]
    launched = time.time()
    with open(workdir / "jvm.log", "ab") as logf:
        proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"benchmark JVM exceeded {timeout:.0f} s")
    if not out.is_file():
        sys.stderr.write((workdir / "jvm.log").read_text(errors="replace")[-4000:])
        raise SystemExit(f"benchmark JVM exited {proc.returncode} without a record")
    rec = json.loads(out.read_text())
    rec["exit_code"] = proc.returncode
    return rec, launched


def classification(cp, digest):
    """Module, oracle flag and streaming flag of every registered query,
    read statically from the compiled engine. Cached per engine source
    state."""
    cache = BENCH / "target" / f"classify-{digest}.json"
    if not cache.is_file():
        work = BENCH / "target" / f"classify-work-{os.getpid()}"
        try:
            rec, _ = run_jvm(cp, work, ["--workload", "classify"], 300)
            cache.write_text(json.dumps(rec["queries"]))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return json.loads(cache.read_text())


def select(queries, workload, seed):
    """The query list of a workload, by the rule of spec.json: for each
    stratum, rank its pool by sha256(salt + name), keep the best-ranked
    query of each module and take the `size` best of those (one module
    each); then permute the whole list with the seed."""
    picked = []
    for rule in SPEC["workloads"][workload]["select"]:
        pool = [q for q in queries if q["streaming"] == rule["streaming"]
                and (q["oracle"] or not rule["oracle_only"])]
        best = {}
        for q in sorted(pool, key=lambda q: hashlib.sha256(
                (rule["salt"] + q["name"]).encode()).digest()):
            best.setdefault(q["module"], q)
        picked += list(best.values())[:rule["size"]]
    picked.sort(key=lambda q: q["name"])
    random.Random(seed).shuffle(picked)
    return picked


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the full-result guard instead of a workload")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        raise SystemExit(f"engine sources not found under {ROOT}/src")
    engine = sorted((ROOT / "src" / "main").rglob("*"))
    cp = build(digest(engine + sorted((BENCH / "src").rglob("*")) +
                      [BENCH / "build.sbt", BENCH / "project" / "build.properties"]))
    queries = classification(cp, digest(engine))
    started = time.time()
    work = BENCH / "work" / f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.selftest:
            return selftest(cp, work, queries, a.seed)
        return run(cp, work, queries, a, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(cp, work, queries, a, started):
    w = SPEC["workloads"][a.workload]
    passes = max(1, math.ceil(a.seconds / 10 * w["timed_passes_per_10s"]))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--passes", str(passes), "--trace", str(a.trace)]
    for k, v in w.get("sizes", {}).items():
        args += [f"--{k}", str(v)]
    picked = []
    if "select" in w:
        datagen.generate(str(work / "data"), a.seed, SF)
        picked = select(queries, a.workload, a.seed)
        (work / "queries.tsv").write_text("".join(
            f"{q['name']}\t{int(q['oracle'])}\n" for q in picked))
        args += ["--data", str(work / "data"), "--queries", str(work / "queries.tsv")]

    def remaining():
        return 175 - (time.time() - started)

    rec, launched = run_jvm(cp, work, args, remaining() - 5)
    if rec["exit_code"] != 0 or "warm_done" not in rec:
        sys.stderr.write((work / "jvm.log").read_text(errors="replace")[-4000:])
        raise SystemExit("benchmark run failed")
    rec["setup_s"] = rec["warm_done"] / 1000 - launched
    rec["launched"] = launched

    verdicts = {q["name"]: "no result written" for q in picked
                if q["oracle"] and q["name"] not in rec.get("oracle_written", [])}
    if rec.get("oracle_written"):
        verdicts.update(oracle_compare(rec["oracle_dir"], str(work / "data"),
                                       rec["oracle_sql"]))
    rec["oracle"] = verdicts
    rec["unchecked"] = [q["name"] for q in picked if not q["oracle"]]
    rec["streaming_ops"] = [q["name"] for q in picked if q["streaming"]]
    result = metrics.evaluate(rec, SPEC, a.workload, a.trace == 1, LAYER_UNITS)
    out = BENCH / "out"
    out.mkdir(exist_ok=True)
    (out / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(dict(rec, result=result)))
    metrics.report(rec, result, a.workload, a.trace == 1)
    return 0


def oracle_compare(results_dir, data_dir, sql_by_name):
    """DuckDB compare by the repo's parity rule: `tools/check_parity.py`
    over the Driver's `<results_dir>/<name>/*.parquet`. Returns {name:
    None if equal, else its FAIL reason}; a query the tool reports on
    neither way is a failure too."""
    Path(results_dir, "oracle_sql.json").write_text(json.dumps(sql_by_name))
    p = subprocess.run([sys.executable, str(ROOT / "tools" / "check_parity.py"),
                        results_dir, data_dir], stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    verdicts = {n: "no verdict from check_parity.py" for n in sql_by_name}
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name, _, why = rest.partition(":")
        name = name.split(" (")[0]
        if word == "PASS" and name in verdicts:
            verdicts[name] = None
        elif word == "FAIL" and name in verdicts:
            verdicts[name] = why.strip()[:300] or "FAIL"
    return verdicts


def selftest(cp, work, queries, seed):
    """Full-result guard on a seeded sample of the registered queries."""
    datagen.generate(str(work / "data"), seed, 0.001)
    names = sorted(q["name"] for q in queries)
    sample = random.Random(seed).sample(names, min(SPEC["selftest_sample"], len(names)))
    (work / "queries.tsv").write_text("".join(f"{n}\t0\n" for n in sample))
    rec, _ = run_jvm(cp, work, ["--workload", "selftest", "--data", str(work / "data"),
                                "--queries", str(work / "queries.tsv")], 840)
    guard = rec.get("guard", [])
    for g in guard:
        print(f"{'PASS' if g['ok'] else 'FAIL'} {g['name']}: plan {g['plan']} "
              f"timed {g['timed']} count() keeps all: {g['count_keeps']}")
    bad = [g["name"] for g in guard if not g["ok"]]
    pruned = sum(1 for g in guard if not g["count_keeps"])
    print(f"== full-result guard: {len(guard) - len(bad)}/{len(guard)} keep the "
          f"plan under the timed noop write; count() would prune {pruned} ==")
    return 0 if guard and not bad and rec["exit_code"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
