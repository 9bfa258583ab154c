#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
runner with sbt (perfbench/build.sbt, which depends on the root build) and
caches the classpath under perfbench/.build; later runs start the JVM
directly. Every run generates its inputs from the seed into a fresh state
directory, runs the workload in one JVM, checks outputs (query results
against DuckDB where the engine declares oracle SQL), and prints one JSON
object as the last line of stdout. The same object is written to
perfbench/results/<workload>-seed<seed>-trace<t>.json.

--smoke shrinks inputs and set-ups for the self-test; --corrupt plants a
wrong expectation so the self-test can show that checks catch it.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

# Read-only star and event queries, two from each family group the
# per-layer metrics sum over (scans and sorts: a, b, f; joins: c;
# aggregates: d; windows: e; functions: h). None stages or writes a table.
STAR_QUERIES = [
    "a8_scan_project", "f1_f2_sort_limit", "c6_join_inner", "c5_asof_join",
    "d4_agg_suite", "d4_cube", "e2_window_suite", "e5_sessionize",
    "h13_date_funcs", "h3_json_extract"]

WORKLOADS = ("ledger_serve", "star_analytics")

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [root / "build.sbt", *sorted((root / "project").glob("*.properties")),
             *sorted((root / "project").glob("*.sbt")), HERE / "build.sbt",
             *sorted((HERE / "project").glob("*.properties"))]
    for d in (root / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(root):
    """Compile engine + runner once per source tree; return the classpath."""
    out = HERE / ".build"
    stamp = source_stamp(root)
    cp_file = out / "classpath.txt"
    if (out / "stamp").is_file() and (out / "stamp").read_text() == stamp and cp_file.is_file():
        return cp_file.read_text().strip()
    out.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = out / "build.log"
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "export perfbench/Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    lines = [l for l in log.read_text().splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    if rc != 0 or not lines:
        die(f"build failed (rc={rc}); see {log}")
    cp_file.write_text(lines[-1].strip())
    (out / "stamp").write_text(stamp)
    return lines[-1].strip()


def generate(args, inputs):
    """Seeded inputs and the spec fields that point at them."""
    smoke = args.smoke
    spec = {}
    if args.workload == "ledger_serve":
        ev, n_users = gen.gen_tables(inputs / "tables", args.seed, 0.001,
                                     events_sf=0.01 if smoke else 0.1)
        exp = gen.expected_ledgers(ev, n_users)
        if args.corrupt:
            for rows in exp.values():
                rows[0][1] += 1
        sched = gen.ledger_schedule(args.seed, sorted(exp))
        gen.dump(inputs / "expected.json", exp)
        gen.dump(inputs / "schedule.json", sched)
        spec["ledger"] = {"schedule": str(inputs / "schedule.json"),
                          "expected": str(inputs / "expected.json"), "limit": 50}
    else:
        gen.gen_tables(inputs / "tables", args.seed, 0.001)
        spec["queries"] = STAR_QUERIES
        spec["passes"] = gen.pass_order(args.seed, STAR_QUERIES, 64)
    spec["data"] = str(inputs / "tables")
    return spec


def run_jvm(cp, spec_path, state, budget):
    heap = max(2, min(6, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (4 << 30)))
    cmd = ["java", *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{heap}g", f"-Xmx{heap}g", f"-Djava.io.tmpdir={state / 'tmp'}",
           f"-Dspark.local.dir={state / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={state / 'warehouse'}",
           f"-Dderby.system.home={state / 'derby'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", str(spec_path)]
    for d in ("tmp", "spark-local"):
        (state / d).mkdir(parents=True, exist_ok=True)
    with open(state / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=state,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"runner exceeded {budget:.0f} s; see {state / 'jvm.log'}")


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, bytes):
        return v.hex()
    return v


def oracle_check(con, path, sql, corrupt):
    """Spark's result against DuckDB's: same columns, types and rows."""
    spark = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    duck = con.sql(sql)
    cols = sorted(spark.columns)
    if cols != sorted(duck.columns):
        return f"columns {cols} vs {sorted(duck.columns)}"
    s, d = spark.select(*cols), duck.select(*cols)
    ts = {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"}
    for c, a, b in zip(cols, s.types, d.types):
        if str(a) != str(b) and not {str(a), str(b)} <= ts:
            return f"column {c}: {a} vs {b}"
    srows = sorted((tuple(norm(v) for v in r) for r in s.fetchall()), key=repr)
    drows = sorted((tuple(norm(v) for v in r) for r in d.fetchall()), key=repr)
    if corrupt:
        drows = drows[:-1]
    if srows != drows:
        return f"{len(srows)} rows vs oracle {len(drows)}"
    return None


def check_outputs(raw, tables, corrupt):
    """DuckDB comparison for every query that wrote its result."""
    todo = raw["checks"]
    if not todo:
        return
    import duckdb
    con = duckdb.connect()
    for t in sorted(Path(tables).glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    for q, c in sorted(todo.items()):
        raw["attempted"] += 1
        try:
            why = oracle_check(con, c["path"], c["sql"], corrupt)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            raw["failed"] += 1
            raw["failures"].append(f"{q} oracle: {why}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        die("run from the root of a checkout of the engine (build.sbt and src/main/scala not found)")
    bench = json.loads((root / "BENCHMARK.json").read_text())
    cp = build(root)
    t_ready = time.time()  # set-up time starts after the (cached) build

    states = HERE / ".state"
    shutil.rmtree(states, ignore_errors=True)
    state = states / f"{args.workload}-{args.seed}"
    inputs = state / "inputs"
    inputs.mkdir(parents=True)
    spec = generate(args, inputs)
    spec.update(workload=args.workload, seconds=args.seconds, trace=args.trace,
                setups=1 if args.smoke else 2, cores=len(os.sched_getaffinity(0)),
                state=str(state), result=str(state / "raw.json"),
                start_ms=int(t_ready * 1000))
    (state / "spec.json").write_text(json.dumps(spec))
    rc = run_jvm(cp, state / "spec.json", state, budget=170 - (time.time() - t_ready))
    raw_path = state / "raw.json"
    if rc != 0 or not raw_path.is_file():
        die(f"runner failed (rc={rc}); see {state / 'jvm.log'}")
    raw = json.loads(raw_path.read_text())
    check_outputs(raw, spec["data"], args.corrupt)

    want = bench["per_layer" if args.trace else "end_to_end"]
    got = raw["metrics"]
    metrics = {}
    for m in want:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif args.trace:  # a layer this workload does not call does no work
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            raw["failures"].append(f"metric {m['name']} not measured")
            raw["failed"] += 1
    result = {"correct": raw["failed"] == 0, "attempted": max(1, raw["attempted"]),
              "failed": raw["failed"], "metrics": metrics}
    out_dir = HERE / "results"
    out_dir.mkdir(exist_ok=True)
    detail = dict(result, workload=args.workload, seed=args.seed, trace=args.trace,
                  failures=raw["failures"], record=raw["record"])
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(detail, indent=1))
    if args.trace:
        shutil.copy(state / "spans.jsonl", out_dir / f"{args.workload}-seed{args.seed}.spans.jsonl")
    for f in raw["failures"][:10]:
        print(f"perfbench: failure: {f}", file=sys.stderr)
    shutil.rmtree(states, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
