#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. It builds the library and the harness
with sbt on first use (the build is reused while the sources are
unchanged), generates the workload's inputs from the seed, runs the
closed loop in one JVM for about --seconds seconds, checks every output
and prints a report. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 they are the
per-layer ones, from a run that alternates traced and untraced passes.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = list(gen.GENERATORS)
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
JVM_TIMEOUT_S = 165  # the whole run must end within 180 s
# no pass after the first timed one starts unless it would end this many
# seconds after the JVM was launched, were it a quarter slower than the
# pass before it
PASS_DEADLINE_S = 150
# the module exports Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
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


def source_stamp(root):
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    files = []
    for top in tops:
        path = os.path.join(root, top)
        if os.path.isfile(path):
            files.append(path)
        for d, subdirs, names in os.walk(path):
            # build outputs and nested sbt meta-builds are not sources
            subdirs[:] = [s for s in subdirs if s not in ("target", "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(root, work):
    """Compile the library and the harness; return the runtime classpath
    and the library's oracle SQL (SparkEntry.oracleSql)."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    oracle_file = os.path.join(work, "oracle_sql.json")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(cp_file) and os.path.exists(oracle_file)):
        return open(cp_file).read(), json.load(open(oracle_file))
    os.makedirs(work, exist_ok=True)
    log = os.path.join(work, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
            stderr=fh, text=True, timeout=840)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines()
             if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    r = subprocess.run(["java", "-cp", cp, "perfbench.OracleDump",
                        oracle_file],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=120)
    if r.returncode != 0:
        fail("could not read the oracle SQL from the library")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, json.load(open(oracle_file))


def duck_oracle(tables_dir, oracle_sql):
    """DuckDB answers to each candidate query over the generated tables."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        path = os.path.join(tables_dir, f)
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{path}')")
    out = {}
    for q in gen.SQL_CANDIDATES:
        try:
            out[q] = con.execute(oracle_sql[q]).df()
        except Exception:  # no oracle, or a failing one: the check fails
            out[q] = None
    con.close()
    return out


def end_to_end(result, quality):
    """The end-to-end metrics, from the untraced timed passes, and the
    sample count of each latency. The latencies are printed but are not
    among the gated metrics of BENCHMARK.json: over ten seeds their
    spread reached 0.29 to 0.36 on pipeline, above the largest bound a
    metric may have."""
    timed = [p for p in result["passes"] if not p["warmup"]]
    tp = {p["pass"] for p in timed}
    ops = [o for o in result["ops"] if o["pass"] in tp]

    def p50(kind):
        lat = [o["s"] for o in ops if o["kind"] == kind]
        return statistics.median(lat), len(lat)
    e2e = {
        "setup_s": (result["setup_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in timed), "s"),
        "store_amp": (quality["store_amp"], "ratio"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB"),
    }
    samples = {"wall_s": len(timed)}
    for kind in ("query", "append", "probe"):
        v, samples[f"{kind}_p50_s"] = p50(kind)
        e2e[f"{kind}_p50_s"] = (v, "s")
    return e2e, samples


def report_lines(workload, facts, quality, e2e, samples, attempted, failed):
    """Every end-to-end figure the workload has, with unit and samples."""
    lines = [f"workload {workload}"]
    for name, (v, unit) in e2e.items():
        n = f" (n={samples[name]})" if name in samples else ""
        lines.append(f"  {name:<16} {v:.6g} {unit}{n}")
    # a run has too few samples for a percentile above the median to keep
    # ten samples beyond it, so latencies are reported as medians
    if workload == "wordcount":
        mb_s = facts["input_bytes"] / 1e6 / e2e["wall_s"][0]
        lines.append(f"  {'input_mb_s':<16} {mb_s:.6g} MB/s")
    for name, v in quality.items():
        if name not in e2e:
            lines.append(f"  {name:<16} {v:.6g}")
    lines.append(f"  {'failed_frac':<16} {failed / attempted:.6g} "
                 f"({failed}/{attempted} operations)")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="also write the result JSON here")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the library "
             "(src/main/scala/graft not found)")
    work = os.path.join(root, ".bench_build")
    cp, oracle_sql = ensure_built(root, work)

    run_dir = os.path.join(
        work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(out)
    facts = gen.generate(a.workload, a.seed, inputs)
    if a.workload == "pipeline":
        facts["sql"]["oracle"] = duck_oracle(facts["sql"]["tables"],
                                             oracle_sql)

    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    t0 = time.time_ns()
    # a fixed heap and the stop-the-world throughput collector: no heap
    # resizing and no concurrent GC threads competing with the tasks
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--inputs", inputs, "--out", out, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--t0-ns", str(t0),
              "--deadline-s", str(PASS_DEADLINE_S),
              "--run-id", f"{a.workload}-{a.seed}-{os.getpid()}"])
    # Spark's scratch space stays inside the run directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S, cwd=tmp, env=env)
    res_path = os.path.join(out, "result.json")
    if r.returncode != 0 or not os.path.exists(res_path):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the harness JVM exited with code {r.returncode}")
    result = json.load(open(res_path))

    verdicts, quality = checks.CHECKS[a.workload](result, facts, out)
    attempted = len(result["ops"])
    passed = sum(sum(v) for v in verdicts.values())
    failed = min(attempted, max(0, attempted - passed))
    bad = sorted(k for k, v in verdicts.items() if not all(v))
    if bad:
        print(f"failed operations: {' '.join(bad)}", file=sys.stderr)
        for c in result["checks"]:
            if not c["ok"]:
                print(f"  {c['name']}: {c['detail']}", file=sys.stderr)
    e2e, samples = end_to_end(result, quality)

    if a.trace == 0:
        for line in report_lines(a.workload, facts, quality, e2e, samples,
                                 attempted, failed):
            print(line)
        gated = {m["name"] for m in BENCH["end_to_end"]}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
                   if k in gated}
    else:
        per = layers.per_layer(result, os.path.join(out, "trace"), quality)
        for line in layers.report(per):
            print(line)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per.items()
                   if k in layers.JSON_METRICS}

    summary = {"correct": failed == 0, "attempted": attempted,
               "failed": failed, "metrics": metrics}
    if a.save:
        os.makedirs(a.save, exist_ok=True)
        with open(os.path.join(
                a.save, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
            json.dump(dict(summary, workload=a.workload, seed=a.seed,
                           trace=a.trace, all_metrics={
                               k: v for k, (v, _) in (
                                   per if a.trace else e2e).items()}), fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
