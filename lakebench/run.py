#!/usr/bin/env python3
"""Run one workload of the lakehouse engine's benchmark.

    python3 lakebench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source (once per source state),
generates the inputs, computes the expected answers with DuckDB, runs the
harness JVM on a fresh set of cache, catalog and scratch directories, and
prints the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones and writes one record per
operation to lakebench/out/. A readable report of every metric, with its
unit, goes to stderr. Exits non-zero if any answer is wrong or any
operation fails. `--selftest` adds a throwing query and a wrong one to the
workload and exits zero only if both are counted as failed.

See lakebench/README.md for the workloads and metrics.
"""
import argparse
import decimal
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")

sys.path.insert(0, HERE)
import datagen  # noqa: E402
import writes  # noqa: E402

# Input tables come from one fixed data seed: the run's --seed drives the
# query order and the write stream, so runs with different seeds read the
# same tables and their figures compare.
DATA_SEED = 42
SETUPS = 3  # set-ups per run; setup_s is their median
FILE_READ = re.compile(r"'/[^'\s]*/")

WORKLOADS = {
    # one closed-loop user of the RAG app: relational and lakehouse reads,
    # top-k retrieval, and the vector and text kernels behind it
    "interactive": {
        "kind": "queries", "scale": 0.01,
        "queries": """q02_filter_project q83_null_semantics q58_frame_sample
            q109_schema_evolution q21_rag_topk q29_fingerprints q33_simhash""".split(),
    },
    # a pipeline writing to one lakehouse table, reading after each commit
    "lakehouse_write": {"kind": "writes", "scale": 0.01},
}


def unit_of(name):
    """Units of metrics outside BENCHMARK.json, which only the report shows."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("write_amp", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"lakebench: {msg}")
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def sources():
    """Every file the build reads, relative to the repo root."""
    files = ["build.sbt", "project/build.properties",
             "lakebench/harness/build.sbt", "lakebench/harness/project/build.properties"]
    for top in ("src/main", "lakebench/harness/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(files)


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    return env


def source_stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compiles the engine and the harness; returns the runtime classpath.
    Cached under lakebench/.work/build, keyed on the sources' `stamp`."""
    cache = os.path.join(WORK, "build")
    cp_file = os.path.join(cache, stamp + ".classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log("lakebench: building the engine and the harness with sbt ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "lakebench" not in lines[-1]:
        log(p.stdout[-4000:])
        fail("sbt build failed")
    log(f"lakebench: built in {time.time() - t0:.0f} s")
    os.makedirs(cache, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def java_cmd(cp, tmp):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java"]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    return cmd + ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
                  "-cp", cp, "lakebench.Harness"]


# ---- inputs and expected answers --------------------------------------------

def base_data(scale):
    """The generated input tables for `scale`, cached by generator source."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"{scale}-{DATA_SEED}-{tag}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.write(d, scale, DATA_SEED)
        open(os.path.join(d, "_done"), "w").close()
    return d


def duck(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def comparable(v):
    """A DuckDB result value as the harness compares it: JSON null, bool,
    number or string."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    raise TypeError(f"no comparable form for a {type(v).__name__} value")


def expected_answers(stamp, cp, wl, data, tmp):
    """{query: rows} for the workload's queries: each query's
    `SparkEntry.oracleSql` twin run by DuckDB over the same inputs, in the
    twin's order. Cached per build and data."""
    key = hashlib.sha256(" ".join(["rows", stamp, data] + wl["queries"]).encode()).hexdigest()[:16]
    path = os.path.join(WORK, "oracle", key + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    sql_file = os.path.join(tmp, "oracle_sql.json")
    subprocess.run(java_cmd(cp, tmp) + ["oracle", ",".join(wl["queries"]), sql_file],
                   check=True, stdout=subprocess.DEVNULL, timeout=120)
    with open(sql_file) as fh:
        twins = json.load(fh)
    # a twin must read only the generated inputs: one that reads files the
    # engine writes during the run (Delta logs, Iceberg metadata) or repo
    # fixtures cannot be answered before the run
    bad = sorted(set(wl["queries"]) - {q for q, t in twins.items() if not FILE_READ.search(t)})
    if bad:
        fail(f"queries without a DuckDB twin over the inputs alone: {bad}")
    con = duck(data)
    try:
        out = {q: [[comparable(v) for v in row] for row in con.execute(t).fetchall()]
               for q, t in twins.items()}
    except TypeError as e:
        fail(f"a DuckDB twin's answer cannot be compared: {e}")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh)
    return out


def write_spec(seed, data, tmp):
    main = writes.stream(seed)
    # set-up warms every statement kind on a tenth of the table
    warm = writes.stream(seed + 1_000_003)
    con = duck(data)
    initial, after = writes.replay(con, main, writes.SOURCE_SQL)
    warm_initial, warm_after = writes.replay(con, warm, writes.WARM_SQL)
    def form(src, init, stmts, exp):
        return {"source_sql": src, "initial": init,
                "stmts": [{"kind": s["kind"], "sql": s["sql"], "expect": e}
                          for s, e in zip(stmts, exp)]}
    return {"tables_dir": os.path.join(tmp, "tables"), "read_sql": writes.READ_SQL,
            "stream": form(writes.SOURCE_SQL, initial, main, after),
            "warmup": form(writes.WARM_SQL, warm_initial, warm, warm_after)}


# ---- one run ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}/src: run from a full checkout")
    wl = WORKLOADS[a.workload]
    if a.selftest and wl["kind"] != "queries":
        fail("--selftest plants failing queries: use a query workload")
    stamp = source_stamp()
    cp = build(stamp)
    cpus = os.cpu_count() or 4
    tmp = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    try:
        data = base_data(wl["scale"])
        # one hard-linked copy of the inputs per set-up: a new directory
        # means every derived table and cached relation is built again
        setup_dirs = []
        for i in range(SETUPS):
            d = os.path.join(tmp, f"in{i}")
            os.makedirs(d)
            for f in os.listdir(data):
                if f.endswith(".parquet"):
                    os.link(os.path.join(data, f), os.path.join(d, f))
            setup_dirs.append(d)
        spec = {"workload": a.workload, "kind": wl["kind"], "seed": a.seed,
                "seconds": a.seconds, "trace": a.trace, "cpus": cpus,
                "setup_dirs": setup_dirs, "selftest": a.selftest}
        if wl["kind"] == "queries":
            spec["expected"] = expected_answers(stamp, cp, wl, data, tmp)
        else:
            spec["write"] = write_spec(a.seed, data, tmp)
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        spec["records"] = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.jsonl")
        spec_file = os.path.join(tmp, "spec.json")
        with open(spec_file, "w") as fh:
            json.dump(spec, fh)
        env = dict(os.environ)
        env.update({"GRAFT_CACHE_DIR": os.path.join(tmp, "cache"),
                    "GRAFT_CATALOG_DIR": os.path.join(tmp, "catalog"),
                    "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local")})
        t0 = time.time()
        try:
            p = subprocess.run(java_cmd(cp, tmp) + ["run", spec_file], cwd=tmp, env=env,
                               stdout=subprocess.PIPE, text=True, timeout=120 + 3 * a.seconds)
        except subprocess.TimeoutExpired as e:
            fail(f"harness still running after {e.timeout:.0f} s; stopped it")
        log(f"lakebench: harness ran {time.time() - t0:.1f} s")
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines:
            fail(f"harness exited with {p.returncode}")
        res = json.loads(lines[-1])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return report(a, res)


def report(a, res):
    failed, attempted = res["failed"], res["attempted"]
    for f in res["failures"]:
        log(f"FAILED {f}")
    # the metrics the benchmark promises are those BENCHMARK.json lists
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    names = [m["name"] for m in spec]
    src = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {m["name"]: {"value": src[m["name"]], "unit": m["unit"]}
               for m in spec if m["name"] in src}
    log(f"-- {a.workload} seed={a.seed} trace={a.trace}: {attempted} operations, "
        f"{failed} failed")
    log("   set-ups (s): " + " ".join(f"{x:.3f}" for x in res["setup_runs_s"]))
    shown = {}
    for group in (res["end_to_end"], res["report"], res["per_layer"]):
        shown.update(group)
    for k, v in shown.items():
        log(f"   {k:36s} {v:16.6f} {unit_of(k)}")
    missing = [n for n in names if n not in src]
    correct = failed == 0 and not missing
    if missing:
        log(f"lakebench: metrics missing from the harness: {missing}")
    if a.selftest:
        # exactly the two planted queries fail, and none of their runs is a
        # latency sample: every sample comes from a real query
        real = len(WORKLOADS[a.workload]["queries"])
        ok = (res["failed_slots"] == ["selftest_throws", "selftest_wrong"]
              and res["report"]["samples"] == res["report"]["passes"] * real)
        log(f"lakebench: self-test {'passed' if ok else 'FAILED'}: planted failures "
            f"{res['failed_slots']}, {res['report']['samples']:.0f} samples")
        return 0 if ok else 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
