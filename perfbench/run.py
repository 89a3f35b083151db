#!/usr/bin/env python3
"""graft benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark from source (sbt, offline) on first
use, starts one JVM on local[<cores - 1>], sets up three times, warms up,
runs the workload's closed loop for --seconds, checks every output, and
prints the per-workload metrics followed by one JSON line. --trace 0
reports the end-to-end metrics of BENCHMARK.json; --trace 1 the per-layer
ones, from a run whose odd rounds record spans and Spark listener
counters. Exits non-zero when any check fails. See perfbench/README.md.
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
# the run leaves no bytecode caches behind in the checkout
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

WORKLOADS = ("analytics", "ingest")
# Spark ships with the toolchain: $SPARK_HOME, else the install behind spark-submit
SPARK_HOME = Path(os.environ.get("SPARK_HOME") or
                  Path(shutil.which("spark-submit") or "spark-submit").resolve().parent.parent)
SPARK_JARS = SPARK_HOME / "jars"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
# a first run, build included, must end within 900 s; any other within 180 s
BUILD_TIMEOUT_S = 720
JVM_TIMEOUT_S = 160
# a fixed heap: no resizing during a run, and a peak RSS that tracks use
HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile when the sources differ from the last successful build."""
    stamp = source_stamp()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=str(SPARK_HOME), COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        f"{Path.home() / '.sbt' / 'repositories'} -Dsbt.offline=true -Xmx3g"))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    STAMP.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_jvm(args, work):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work / 'spark-local'}",
              f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", f"{CLASSES}{os.pathsep}{SPARK_JARS}/*", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work)])
    (work / "tmp").mkdir(parents=True)
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload JVM exceeded {JVM_TIMEOUT_S} s; see {work / 'jvm.log'}")
    if code != 0 or not (work / "result.json").is_file():
        tail = (work / "jvm.log").read_text()[-3000:]
        sys.stderr.write(tail)
        fail(f"workload JVM exited with {code}")
    return json.loads((work / "result.json").read_text())


def oracle_check(facts):
    """Query results dumped by `graft.Verify` against the registry's oracle
    SQL run by DuckDB over the same generated tables, compared by the
    repository's own gate, `tools/prevalidate.py`."""
    import duckdb
    sys.path.insert(0, str(ROOT / "tools"))
    import prevalidate
    con = duckdb.connect()
    for t in sorted(Path(facts["tables_dir"]).glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}/*.parquet'")
    results = Path(facts["results_dir"])
    sql = json.loads((results / "oracle_sql.json").read_text())
    bad = {}
    for q in facts["queries"]:
        try:
            spark_rel = con.sql(f"SELECT * FROM '{results / q}/*.parquet'")
            duck_rel = con.sql(sql[q])
            status, detail = prevalidate.wide_decimal_check(spark_rel, duck_rel)
            if status is None:
                a, b = spark_rel.df(), duck_rel.df()
                status, detail = prevalidate.compare(a[sorted(a.columns)], b[sorted(b.columns)])
        except Exception as e:  # a missing result or failing oracle query fails the check
            status, detail = "ERROR", str(e).splitlines()[0][:300]
        if status != "PASS":
            bad[q] = f"{status} {detail}"
    return bad


def round_rates(ops):
    """Units per second of each round of the closed loop."""
    rounds = {}
    for o in ops:
        u, t = rounds.get(o["round"], (0, 0.0))
        rounds[o["round"]] = (u + o["units"], t + o["seconds"])
    return [u / t for u, t in rounds.values()]


def trace_overhead(ops):
    """Paired cost of tracing, per operation: each operation of a traced
    (odd) round against the same operation in the untraced round before
    it, as traced / untraced - 1."""
    plain = {(o["round"], o["name"]): o["seconds"] for o in ops if o["round"] % 2 == 0}
    return [o["seconds"] / plain[(o["round"] - 1, o["name"])] - 1.0
            for o in ops if o["round"] % 2 == 1 and (o["round"] - 1, o["name"]) in plain]


def named_metrics(workload, res, ops):
    """Per-workload names for the end-to-end numbers, for the human report."""
    lat = [o["seconds"] for o in ops]
    n = len(lat)
    rates = round_rates(ops)
    rate, rounds = stats.median(rates), len(rates)

    def tail(p):
        v = stats.percentile(lat, p)
        beyond = stats.beyond(n, p)
        note = f"n={n}, {beyond} beyond"
        return (v if v is not None else float("nan"),
                note if v is not None else note + f", under the floor of {stats.TAIL_FLOOR}")

    if workload == "analytics":
        return [("queries_per_s", rate, "1/s", f"median of {rounds} passes, n={n}"),
                ("query_p50_s", stats.median(lat), "s", f"n={n}"),
                ("query_p90_s", *tail(90)[:1], "s", tail(90)[1])]
    return [("write_records_per_s",
             stats.median([o["units"] / o["parts"]["write"] for o in ops]), "1/s",
             f"median of {n} passes"),
            ("read_records_per_s",
             stats.median([o["units"] / o["parts"]["read"] for o in ops]), "1/s",
             f"median of {n} passes")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft library sources under {ROOT / 'src' / 'main' / 'scala'}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    build()

    work = HERE / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    res = run_jvm(args, work)
    jvm_s = time.time() - t0

    # in a traced run the untraced and the traced rounds both count
    ops = res["ops"]
    failed_ops = [o for o in ops if not o["ok"]]
    warm_bad = [o["name"] for o in res["warmup_ops"] if not o["ok"]]
    checks = [(c[0], c[1], c[2]) for c in res["checks"]]
    checks.append(("warm-up round passed its own checks", not warm_bad,
                   ", ".join(warm_bad) or f"{len(res['warmup_ops'])} operations"))
    if args.workload == "analytics":
        bad = oracle_check(res["facts"])
        checks.append(("query results equal the DuckDB oracle", not bad,
                       "; ".join(f"{q}: {d}" for q, d in bad.items()) or
                       f"{len(res['facts']['queries'])} queries"))
        failed_ops += [o for o in ops if o["ok"] and o["name"] in bad]
    print(f"perfbench: JVM {jvm_s:.1f} s (set-ups {sum(res['setup_s']):.1f} s, warm-up "
          f"{res['warmup_s']:.1f} s, checks {res['checks_s']:.1f} s), then the runner's "
          f"checks {time.time() - t0 - jvm_s:.1f} s", file=sys.stderr)
    attempted, failed = len(ops), len(failed_ops)
    correct = failed == 0 and all(ok for _, ok, _ in checks)

    setup_s = res["jvm_start_s"] + stats.median(res["setup_s"])
    e2e = {"setup_s": setup_s, "peak_rss_mb": res["peak_rss_mb"],
           "throughput_per_s": stats.median(round_rates(ops)),
           "latency_p50_s": stats.median([o["seconds"] for o in ops])}

    w = args.workload
    for name, ok, detail in checks:
        print(f"{w} check {'PASS' if ok else 'FAIL'}: {name} ({detail})")
    named = ([("setup_s", setup_s, "s",
               f"JVM start {res['jvm_start_s']:.2f} s + median of {len(res['setup_s'])} "
               f"set-ups {stats.median(res['setup_s']):.2f} s; then warm-up "
               f"{res['warmup_s']:.2f} s, not counted"),
              ("error_rate", failed / attempted, "ratio", f"{failed}/{attempted} operations"),
              ("peak_rss_mb", res["peak_rss_mb"], "MB", "JVM VmHWM")]
             + ([] if args.trace else named_metrics(w, res, ops)))
    for name, value, unit, note in named:
        print(f"{w} {name} {value:.6g} {unit} ({note})")

    if args.trace:
        layers = dict(res["layers"])
        paired = trace_overhead(ops)
        q1, q2, q3 = stats.quartiles(paired)
        layers.update({"trace.overhead_share": q2, "trace.overhead_q1": q1,
                       "trace.overhead_q3": q3})
        print(f"{w} tracing overhead {q2:+.4f} (quartiles {q1:+.4f} .. {q3:+.4f} over "
              f"{len(paired)} paired operations"
              + ("; not told apart from zero)" if q1 <= 0 <= q3 else ")"))
        known = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = sorted(set(layers) - set(known))
        if unknown:
            fail(f"layer metrics missing from BENCHMARK.json: {unknown}")
        for name in sorted(layers):
            print(f"{w} layer {name} {layers[name]:.6g} {known[name]}")
        # a layer this workload does not call did no work: its counters are 0
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
