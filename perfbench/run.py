"""The graft benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload <suite|stage> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the engine from the checkout's sources (perfbench/build.py),
checks the input tables (perfbench/data) against their manifest, runs
the JVM harness (perfbench/src/Harness.scala) in one process with Spark
as local[N], checks every result with scripts/check.py (DuckDB running
the engine's own oracle SQL, `SparkEntry.oracleSql`), and prints as its
last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.
Everything it writes stays under .bench_build/ in the checkout.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import metrics  # noqa: E402

# Input tables per workload: copies of the repository's sf0.001 and sf0.01
# test tables (TESTDATA.md); perfbench/README.md gives the reasons.
WORKLOADS = {"suite": "sf0.001", "stage": "sf0.01"}
DATA = os.path.join(HERE, "data")
# A fixed JVM heap (-Xms = -Xmx): heap resizing is not measured noise.
HEAP = "1536m"
SETUPS = 3
# A run ends within 180 s of its start, build excepted; checks need a few.
RUN_DEADLINE_S = 170

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    """local[N] with N the processors this process may use, at most 4."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(classes, workload, data, out, seed, seconds, trace, deadline):
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(out, d))
    env = dict(os.environ)
    # Keep every file Spark and the engine write inside the run directory.
    env["SPARK_GRAFT_CONF"] = (f"spark.sql.warehouse.dir={out}/warehouse;"
                               f"spark.local.dir={out}/local")
    env["SPARK_LOCAL_DIRS"] = os.path.join(out, "local")
    env.pop("SPARK_GRAFT_TRACE", None)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
            f"-Djava.io.tmpdir={out}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + JDK17_OPENS +
           ["-cp", build.classpath(classes), "graftbench.Harness",
            "--workload", workload, "--data", data, "--out", out, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--setups", str(SETUPS), "--cores", str(cores())])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("harness did not finish in time")
    if code != 0:
        raise RuntimeError(f"harness exited with {code}; see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def inputs(workload):
    """The workload's input directory, after checking every table's rows,
    bytes and digest against perfbench/data/manifest.json, so a partial
    or changed copy fails instead of being measured."""
    import pyarrow.parquet as pq
    name = WORKLOADS[workload]
    with open(os.path.join(DATA, "manifest.json")) as f:
        want = json.load(f)[name]
    path = os.path.join(DATA, name)
    found = {}
    for table in want:
        f = os.path.join(path, f"{table}.parquet")
        if os.path.exists(f):
            with open(f, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            found[table] = {"rows": pq.ParquetFile(f).metadata.num_rows,
                            "bytes": os.path.getsize(f), "sha256": digest}
    if found != want:
        bad = sorted(t for t in want if found.get(t) != want[t])
        raise RuntimeError(f"input tables in {path} do not match the manifest: {bad}")
    return path


def check_outputs(result, data, out):
    """(name, why) for each written result that scripts/check.py finds
    different from its oracle SQL run by DuckDB over the input tables."""
    check_dir = os.path.join(out, "check")
    os.makedirs(check_dir)
    oracle = {}
    for name, sql, out_dir in result["oracle"]:
        oracle[name] = sql
        os.symlink(out_dir, os.path.join(check_dir, name))
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    script = os.path.join(build.ROOT, "scripts", "check.py")
    p = subprocess.run([sys.executable, script, data, check_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    errors = [tuple(line[len("FAIL "):].split(": ", 1)) for line in p.stdout.splitlines()
              if line.startswith("FAIL ")]
    if p.returncode != 0 and not errors:
        errors = [("check.py", p.stdout.strip()[-300:] or f"exit code {p.returncode}")]
    return errors


def stored_bytes_ratio(result, data):
    """Bytes on disk of the write-path outputs over the compressed parquet
    bytes of the input columns they came from."""
    import pyarrow.parquet as pq
    src = 0
    for op, tables in result["sources"].items():
        for table, cols in tables.items():
            md = pq.ParquetFile(os.path.join(data, f"{table}.parquet")).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    if rg.column(c).path_in_schema.split(".")[0] in cols:
                        src += rg.column(c).total_compressed_size
    stored = sum(result["stored_bytes"][op] for op in result["sources"])
    return stored / src if src else 0.0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    classes = build.ensure()
    t0 = time.time()
    data = inputs(args.workload)
    out = os.path.join(build.BUILD, "run")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    result = run_jvm(classes, args.workload, data, out, args.seed, args.seconds,
                     args.trace == 1, t0 + RUN_DEADLINE_S - 10)
    errors = [tuple(f) for f in result["failures"]] + check_outputs(result, data, out)
    for name, err in errors:
        print(f"[perfbench] FAILED {name}: {err}", file=sys.stderr)

    # timed passes, plus one untimed pass per set-up and the settling pass
    executions = sum(len(p["times"]) for p in result["passes"]) + \
        (SETUPS + 1) * len(result["order"])
    attempted = executions + len(result["oracle"])
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        result["stored_bytes_ratio"] = stored_bytes_ratio(result, data)
        values, units = metrics.per_layer(result), spec["per_layer"]
    else:
        values, units = metrics.end_to_end(result), spec["end_to_end"]
        times = metrics.op_times(result)
        p = metrics.tail_percentile(len(times))
        if p:
            print(f"[perfbench] query p{p} {metrics.percentile(times, p):.4f} s "
                  f"over {len(times)} timed executions", file=sys.stderr)
    print(f"[perfbench] {args.workload} seed {args.seed}: {len(result['passes'])} passes, "
          f"{time.time() - t0:.1f} s total", file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": min(len(errors), attempted),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in units},
    }))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # no result line: the run could not measure
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)
