#!/usr/bin/env python3
"""graft benchmark: runs one workload with a seed, checks every output and
prints the metrics as one JSON line.

    python3 graftbench/run.py --workload etl_day --seed 1 --seconds 5 --trace 0

Run it from the repository root. It builds the program and the
benchmark's JVM side from source (`graftbench/jvm`, sbt, offline),
generates the seeded inputs under `graftbench/.work/data`, runs the
workload in one JVM at local[N] with N = cores, then checks each op's
output in DuckDB. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer ones (and writes the spans to
`graftbench/.work/run/spans.json`).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
JVM = os.path.join(BENCH, "jvm")
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(JVM, "target", "scala-2.13", "classes")
STAMP = os.path.join(JVM, "target", "graftbench.stamp")
DEADLINE_S = 150  # the JVM's share of the 180 s a built run may take

sys.path.insert(0, BENCH)
import check  # noqa: E402
import gen  # noqa: E402

SF = 0.01
CORPUS_DOCS, CORPUS_FILES = 20_000, 4

# workload names; their ops are listed in Runner.scala
WORKLOADS = ("etl_day", "corpus_prep")
PROPERTY_CHECKS = {"q_dedup_minhash": "dedup_minhash", "q_dedup_staged": "dedup_staged"}

# metric names and units: BENCHMARK.json at the repository root
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def percentile(values, q):
    """The q-quantile of `values`, or None unless at least ten samples lie
    beyond it (a tail percentile with fewer is no tail)."""
    if not values or (q > 0.5 and round(len(values) * (1 - q), 6) < 10):
        return None
    if q == 0.5:
        return statistics.median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def tree_digest(paths) -> str:
    h = hashlib.sha256()
    for base in paths:
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames.sort()
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def spark_home() -> str:
    """SPARK_HOME, or the install that holds `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("graftbench: no Spark install found; set SPARK_HOME")
    return home


def build() -> None:
    """Compiles the program's sources with the benchmark's JVM side unless
    the last build saw the same sources."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        sys.exit(f"graftbench: no program sources at {src}; run from a full checkout")
    stamp = tree_digest([src, os.path.join(JVM, "src"), os.path.join(JVM, "build.sbt"),
                         os.path.join(JVM, "project", "build.properties")])
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
         "-Dsbt.server.autostart=false"]
        + ([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else [])))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=JVM, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            timeout=800).returncode
    if rc != 0:
        sys.exit(f"graftbench: build failed, see {log}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def data_for(workload: str, seed: int) -> tuple:
    """Seeded inputs, generated once per seed and generator version: the
    workload's data directory, and the catalog tables its warm-up reads."""
    with open(os.path.join(BENCH, "gen.py"), "rb") as fh:
        h = hashlib.sha256(fh.read())
    h.update(f"docs={CORPUS_DOCS} files={CORPUS_FILES}".encode())
    base = os.path.join(WORK, "data", f"{h.hexdigest()[:12]}-seed{seed}")
    tables = os.path.join(base, f"tables-sf{SF}")
    if not os.path.exists(os.path.join(tables, "events.parquet")):
        gen.tables(tables, seed, SF)
    if workload != "corpus_prep":
        return tables, tables
    corpus = os.path.join(base, "corpus")
    if not os.path.exists(os.path.join(corpus, "corpus.json")):
        gen.corpus(tables, corpus, seed, CORPUS_DOCS, CORPUS_FILES)
        problems = gen.check_corpus(corpus)
        if problems:
            shutil.rmtree(corpus)
            sys.exit(f"graftbench: generated corpus breaks its declared make-up: {problems}")
    return corpus, tables


def run_jvm(workload: str, data: str, warm: str, seconds: int, trace: int,
            deadline: float) -> dict:
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "jtmp"))
    cmd = (["java"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={run_dir}/jtmp", f"-Dgraftbench.tmp={run_dir}/tmp",
              f"-Dlog4j2.configurationFile={JVM}/log4j2.properties",
              "-cp", f"{JVM}/conf:{CLASSES}:{spark_home()}/jars/*", "graftbench.Runner",
              workload, data, warm, run_dir, str(seconds), str(trace)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("graftbench: workload did not finish in time")
    if rc != 0:
        sys.exit(f"graftbench: JVM exited with {rc}, see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def check_ops(res: dict, checker: "check.Checker") -> list:
    """One entry per timed op: "" when it ran and its output checked out,
    else the reason it failed."""
    oracles = res["oracle_sql"]
    # set-up loaded the keyed table with its day before the timed passes
    upsert_days = [res["setup_day"]] if res.get("workload") == "etl_day" else []
    verdicts = []
    for op in res["ops"]:
        name = op["name"]
        if op["error"]:
            verdicts.append(f"threw {op['error']}")
            continue
        if name == "load_upsert":
            upsert_days.append(op["day"])
        try:
            if name == "load_daily":
                why = checker.daily_partition(op["out"], op["day"])
            elif name == "load_upsert":
                why = checker.upsert_state(op["out"], list(upsert_days))
            elif name in PROPERTY_CHECKS:
                why = getattr(checker, PROPERTY_CHECKS[name])(op["out"])
            elif name in oracles:
                why = checker.oracle(oracles[name], op["out"])
            else:
                sys.exit(f"graftbench: op {name} has no check")
        except Exception as e:  # a check that cannot run fails its op
            why = f"check error {e}"
        verdicts.append(why)
    return verdicts


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, filenames in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return total / (1024 * 1024)


def metrics_of(res: dict, trace: int) -> dict:
    run_dir = os.path.join(WORK, "run")
    if trace:
        layers = dict(res["trace"])
        layers["load.mb"] = dir_mb(os.path.join(run_dir, "load"))
        layers["jvm.gc_s"] = res["jvm_gc_s"] / len(res["passes"])
        layers["jvm.heap_after_gc_mb"] = res["heap_mb"]
        layers["substrate.build_s"] = res["substrate_s"]
        layers["substrate.mb"] = res["substrate_mb"]
        layers["wall.setup_s"] = res["setup_s"]
        layers["wall.pass_s"] = statistics.median(res["passes"])
        layers["wall.op_p50_s"] = percentile([o["wall_s"] for o in res["ops"]], 0.5)
        return layers
    # times are the process's CPU seconds, which leave out the time the
    # host takes its virtual CPUs away; the traced run gives wall times
    return {
        "setup_s": res["setup_cpu_s"],
        "pass_cpu_s": statistics.median(res["passes_cpu"]),
        "op_cpu_p50_s": percentile([o["cpu_s"] for o in res["ops"]], 0.5),
        # what the program leaves: load outputs and its /tmp/graft_* tables
        "stored_mb": dir_mb(os.path.join(run_dir, "load")) + dir_mb(os.path.join(run_dir, "tmp")),
        "heap_mb": res["heap_mb"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    build()
    t1 = time.time()
    data, warm = data_for(a.workload, a.seed)
    t2 = time.time()
    res = run_jvm(a.workload, data, warm, a.seconds, a.trace, t1 + DEADLINE_S)
    t3 = time.time()
    checker = check.Checker(data, os.path.join(WORK, "oracle-cache"))
    verdicts = check_ops(res, checker)
    print(f"graftbench: build {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, "
          f"jvm {t3 - t2:.1f} s, checks {time.time() - t3:.1f} s", file=sys.stderr)
    for op, why in zip(res["ops"], verdicts):
        if why:
            print(f"graftbench: {op['name']} pass {op['pass']} failed: {why}", file=sys.stderr)
    values = metrics_of(res, a.trace)
    if a.trace:
        with open(os.path.join(WORK, "run", "layers.json"), "w") as fh:
            json.dump(values, fh, indent=1)
    print(json.dumps(result(verdicts, values, a.trace)))
    return 0


def result(verdicts: list, values: dict, trace: int) -> dict:
    """The result line: the run is correct only when no op failed."""
    failed = sum(1 for v in verdicts if v)
    names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    return {
        "correct": failed == 0,
        "attempted": len(verdicts),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": UNITS[k]} for k in names},
    }


if __name__ == "__main__":
    sys.exit(main())
