#!/usr/bin/env python3
"""DDL-migration benchmark: one workload, one seed, one run.

    python3 ddlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source with sbt (`ddlbench/build.sbt`) and keeps
the classpath under `.bench_build/ddlbench/`; later runs start the JVM
directly on it. Each run generates its inputs from the seed, starts one
JVM that warms up and then runs whole passes of the workload for the
given seconds, checks the outputs outside the timed region, and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (and the run writes its spans to trace.jsonl).
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from decimal import Decimal

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "ddlbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
GOLDEN = os.path.join(ROOT, "src", "main", "resources", "golden")
RUN_LIMIT_S = 170
HEAP = "3g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}
COUNTS = ["parse.statements", "parse.tables", "parse.alter_links", "mapping.columns",
          "convert.ewi_markers", "snowflake.tables", "assess.issues", "api.jobs",
          "api.stages", "api.tasks", "api.input_partitions", "sources.commits",
          "sources.data_files", "sources.delete_files", "sources.jobs", "sources.tasks"]
BYTES = ["convert.out_bytes", "api.shuffle_write_bytes", "api.shuffle_read_bytes",
         "api.spill_bytes", "sources.bytes_written", "sources.shuffle_write_bytes",
         "sources.spill_bytes", "jvm.heap_peak_bytes"]
SECONDS = ["parse.busy_s", "parse.max_script_s", "mapping.busy_s", "convert.busy_s",
           "snowflake.parse_s", "snowflake.render_s", "assess.busy_s", "assess.render_s",
           "api.read_s", "api.convert_s", "api.assess_s", "api.report_s", "api.sf_convert_s",
           "api.task_busy_s", "api.task_wait_s", "api.max_task_s", "api.gc_s",
           "sources.migrate_s", "sources.upsert_s", "sources.delete_s", "sources.append_s",
           "sources.read_s", "jvm.gc_s", "trace.pass_s", "trace.pass_cpu_s"]
PER_LAYER = {**{k: "count" for k in COUNTS}, **{k: "bytes" for k in BYTES},
             **{k: "s" for k in SECONDS}}


def log(msg):
    print(f"[ddlbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Run a child process to its end; on timeout kill it and wait."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        proc.wait(timeout=timeout)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    return proc.returncode


# ------------------------------------------------------------------ build

def sources_mtime():
    """Newest modification time among the files the build reads."""
    paths = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        paths += [os.path.join(d, f) for d, _, files in os.walk(top) for f in files]
    return max(os.path.getmtime(p) for p in paths)


def build():
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building the engine and the benchmark program with sbt")
    out_path = os.path.join(BUILD, "sbt.log")
    with open(out_path, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                         timeout=850, cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in open(out_path) if l.strip()]
    if code != 0 or not lines or "ddlbench" not in lines[-1]:
        sys.stderr.write("".join(open(out_path).readlines()[-40:]))
        raise SystemExit("build failed")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1]


# ------------------------------------------------------------------ run

def generate(workload, seed, inputs):
    t0 = time.monotonic()
    gen.generate(workload, seed, inputs)
    gen_s = time.monotonic() - t0
    for sub, name in (("db2", "sample_db2.sql"), ("sf", "sample_snowflake.sql")):
        os.makedirs(os.path.join(inputs, "golden", sub))
        shutil.copyfile(os.path.join(GOLDEN, name), os.path.join(inputs, "golden", sub, name))
    return gen_s


def run_jvm(classpath, workload, inputs, out, seconds, trace, deadline):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile=file://{os.path.join(BENCH, 'log4j2.properties')}"]
           + opens + ["-cp", classpath, "ddlbench.BenchMain", "--workload", workload,
                      "--inputs", inputs, "--out", out, "--seconds", str(seconds),
                      "--trace", str(trace)])
    launch_ms = time.time() * 1000
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        code = run_child(cmd, timeout=max(10.0, deadline - time.monotonic()), cwd=out,
                         stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        sys.stderr.write("".join(open(os.path.join(out, "jvm.log")).readlines()[-40:]))
        raise SystemExit(f"benchmark JVM exited with {code}")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    result["session_s"] = (result["ready_epoch_ms"] - launch_ms) / 1000
    return result


# ------------------------------------------------------------------ checks

HEADER = re.compile(r"^-- Converted from DB2(?: (?:VOLATILE|GLOBAL TEMPORARY) table)?: (.+)$")


def jsonl(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def check_golden(check, problems):
    for got, want in (("golden_db2.iceberg.sql", "sample_db2.iceberg.sql"),
                      ("golden_db2.report.txt", "sample_db2.report.txt"),
                      ("golden_sf.iceberg.sql", "sample_snowflake.iceberg.sql")):
        with open(os.path.join(check, got), "rb") as a, open(os.path.join(GOLDEN, want), "rb") as b:
            if a.read() != b.read():
                problems.append(f"{got} differs from golden {want}")


def level_of(score):
    return "green" if score >= 80 else "yellow" if score >= 50 else "red"


def check_ddl(manifest, check, problems):
    db2, sf = manifest["db2"], manifest["sf"]
    n_tables = sum(len(s["tables"]) for s in db2.values())
    n_cols = sum(t["columns"] for s in db2.values() for t in s["tables"])

    inv = jsonl(os.path.join(check, "inventory.jsonl"))
    if inv != [{"scripts": len(db2), "chars": sum(s["bytes"] for s in db2.values())}]:
        problems.append(f"inventory {inv} does not match the generated scripts")

    converted = {r["script"]: r for r in jsonl(os.path.join(check, "convert.jsonl"))}
    if set(converted) != set(db2):
        problems.append("convert: scripts missing or extra")
    for name, s in db2.items():
        r = converted.get(name)
        if r is None:
            continue
        want = [t["name"] for t in s["tables"]]
        lines = r["iceberg_ddl"].split("\n")
        starts = [i for i, l in enumerate(lines) if HEADER.match(l)]
        got = [HEADER.match(lines[i]).group(1) for i in starts]
        if got != want or r["tables_converted"] != len(want):
            problems.append(f"convert {name}: tables {got[:5]}... != generated {want[:5]}...")
            continue
        blocks = [lines[a:b] for a, b in zip(starts, starts[1:] + [len(lines)])]
        for i in s["alter_pk"]:
            if not any(l.startswith("    PRIMARY KEY (") for l in blocks[i]):
                problems.append(f"convert {name}: ALTER target {want[i]} has no primary key")
        last = s["tables"][-1]
        if s["distribute"] and not last["temporary"] and \
                f"CLUSTER BY ({s['distribute']})" not in blocks[-1]:
            problems.append(f"convert {name}: DISTRIBUTE target {last['name']} not clustered")

    rollup = jsonl(os.path.join(check, "rollup.jsonl"))
    per_script = {r["script"]: r for r in rollup if r["agg_level"] == 3}
    grand = [r for r in rollup if r["agg_level"] == 7]
    per_table = [r for r in rollup if r["agg_level"] == 0]
    if len(per_table) != n_tables:
        problems.append(f"rollup: {len(per_table)} table rows for {n_tables} tables")
    for name, s in db2.items():
        r = per_script.get(name)
        if r is None or r["tables_total"] != len(s["tables"]) or \
                r["total_columns"] != sum(t["columns"] for t in s["tables"]):
            problems.append(f"rollup {name}: script row {r} does not match the generator")
    if len(grand) != 1:
        problems.append(f"rollup: {len(grand)} grand-total rows")
    else:
        for k in ("tables_total", "tables_auto", "tables_manual", "tables_blocked",
                  "total_columns", "total_constraints", "critical_issues",
                  "warning_issues", "info_issues"):
            if grand[0][k] != sum(r[k] for r in per_script.values()):
                problems.append(f"rollup: grand total {k} is not the sum of the script rows")
        if grand[0]["tables_total"] != n_tables or grand[0]["total_columns"] != n_cols:
            problems.append("rollup: grand total does not match the generator's counts")
    for r in rollup:
        if r["overall_level"] != level_of(r["overall_score"]):
            problems.append(f"rollup: level {r['overall_level']} for score {r['overall_score']}")
            break

    type_cols = {}
    for r in jsonl(os.path.join(check, "types.jsonl")):
        type_cols[r["script"]] = type_cols.get(r["script"], 0) + r["n_columns"]
    xml = {r["script"]: r["xml_columns"] for r in jsonl(os.path.join(check, "features.jsonl"))}
    totals = {}
    for r in jsonl(os.path.join(check, "report_totals.jsonl")):
        k, v = r["line"].strip().split(":", 1)
        totals[(r["script"], k)] = int(v)
    for name, s in db2.items():
        cols = sum(t["columns"] for t in s["tables"])
        if type_cols.get(name) != cols:
            problems.append(f"typeDistribution {name}: {type_cols.get(name)} columns, not {cols}")
        if xml.get(name) != sum(t["xml_columns"] for t in s["tables"]):
            problems.append(f"featureUsage {name}: xml_columns {xml.get(name)}")
        if totals.get((name, "Total Tables")) != len(s["tables"]) or \
                totals.get((name, "Total Columns")) != cols:
            problems.append(f"report {name}: totals do not match the generator")

    if sf:
        got = {r["script"]: r["tables_converted"]
               for r in jsonl(os.path.join(check, "sf_convert.jsonl"))}
        want = {name: len(s["tables"]) for name, s in sf.items()}
        if got != want:
            bad = sorted(k for k in want if got.get(k) != want[k])[:5]
            problems.append(f"convertSnowflake: table counts differ on {bad}")


def check_migrate(manifest, inputs, check, problems):
    import duckdb
    con = duckdb.connect()
    src = os.path.join(inputs, "source")
    con.execute(f"CREATE TABLE li AS SELECT * FROM read_parquet('{src}/lineitem.parquet')")
    orders = con.execute("SELECT count(*), sum(o_totalprice) FROM "
                         f"read_parquet('{src}/orders.parquet')").fetchone()
    expected = []
    for r in manifest["rounds"]:
        up = os.path.join(inputs, r["upsert"])
        con.execute(f"DELETE FROM li USING read_parquet('{up}') u WHERE "
                    "li.l_orderkey = u.l_orderkey AND li.l_linenumber = u.l_linenumber")
        con.execute(f"INSERT INTO li SELECT * FROM read_parquet('{up}')")
        con.execute(f"DELETE FROM li WHERE {r['delete']}")
        con.execute(f"INSERT INTO li SELECT * FROM read_parquet('{os.path.join(inputs, r['append'])}')")
        expected.append(con.execute("SELECT count(*), sum(l_quantity) FROM li").fetchone())
    con.close()
    passes = jsonl(os.path.join(check, "migrate.jsonl"))
    if not passes:
        problems.append("migrate: no pass recorded")
    for p in passes:
        n, s = p["orders"]
        if (n, Decimal(s)) != (orders[0], orders[1]):
            problems.append(f"migrate pass {p['pass']}: orders {n}, {s} != {orders}")
        got = [(n, Decimal(s)) for n, s in p["lineitem"]]
        if got != [(n, s) for n, s in expected]:
            problems.append(f"migrate pass {p['pass']}: lineitem rounds {got} != {expected}")


# ------------------------------------------------------------------ main

def main():
    # a terminated run still stops (and waits for) the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ddl_corpus", "giant_script", "migrate_cdc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("run from the root of a checkout: the engine's sources "
                         "(src/main/scala/graft) are not here")

    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    os.makedirs(out)
    gen_s = generate(a.workload, a.seed, inputs)
    result = run_jvm(classpath, a.workload, inputs, out, a.seconds, a.trace, deadline)

    with open(os.path.join(inputs, "manifest.json")) as f:
        manifest = json.load(f)
    check = os.path.join(out, "check")
    problems = [f"outputs of later passes differ from the first: {result['unstable_outputs']}"] \
        if result["unstable_outputs"] else []
    check_golden(check, problems)
    if a.workload == "migrate_cdc":
        check_migrate(manifest, inputs, check, problems)
    else:
        check_ddl(manifest, check, problems)
    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")

    if a.trace:
        if set(result["per_layer"]) != set(PER_LAYER):
            raise SystemExit(f"per-layer figures {sorted(result['per_layer'])} are not "
                             f"the declared set {sorted(PER_LAYER)}")
        metrics = {k: {"value": result["per_layer"][k], "unit": u}
                   for k, u in sorted(PER_LAYER.items())}
    else:
        values = {"setup_s": gen_s + result["session_s"] + result["first_pass_s"],
                  "pass_cpu_s": statistics.median(result["pass_cpu_s"])}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    log(f"{a.workload} seed {a.seed}: {result['passes']} passes, pass_s {result['pass_s']}, "
        f"pass_cpu_s {result['pass_cpu_s']}, "
        f"setup gen {gen_s:.2f}s session {result['session_s']:.2f}s "
        f"first pass {result['first_pass_s']:.2f}s")
    # keep the run's result, log and trace; drop inputs and bulky outputs
    shutil.rmtree(inputs, ignore_errors=True)
    for bulky in ("tmp", "spark-local", "warehouse", "tables") + (() if problems else ("check",)):
        shutil.rmtree(os.path.join(out, bulky), ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}), flush=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
