#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload catalog-star --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program and the harness from
source on first use (perfbench/.work caches the classpath, the generated
catalog tables and the catalog's table classification, each keyed by what
it depends on), runs the JVM harness in one `local[N]` session, checks every
output, and prints one JSON object as the last line of stdout. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ["catalog-star", "catalog-corpus", "ingest"]
# Catalog tables are fixed: the run seed sets the catalog order and the
# ingest corpus, never the tables, so every seed checks the same answers.
CATALOG_SF = 0.01
CATALOG_DATA_SEED = 42
JVM_TIMEOUT_S = 170
CLASSIFY_TIMEOUT_S = 600
BUILD_TIMEOUT_S = 880


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    """SHA-256 over every file under `paths` (relative to ROOT)."""
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(ROOT, p)
        if os.path.isfile(full):
            files = [full]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(full)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "src/test", "perfbench/build.sbt",
                "perfbench/project/build.properties", "perfbench/src/main"]


def classpath():
    """The harness's runtime classpath, building it if the sources changed."""
    for p in ["build.sbt", "src/main/scala", "dev/compare.py"]:
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"{p} is missing: run from the root of a full checkout")
    key = tree_digest(BUILD_INPUTS)
    cache = os.path.join(WORK, "build", f"{key}.classpath")
    if os.path.exists(cache):
        with open(cache) as fh:
            return fh.read().strip()
    log(f"building program and harness ({key})")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def catalog_data():
    """Generated catalog tables, written once per checkout."""
    import datagen
    key = tree_digest(["perfbench/datagen.py"])
    out = os.path.join(WORK, "data", f"sf{CATALOG_SF}-{key}")
    marker = os.path.join(out, "_complete")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        datagen.write(out, CATALOG_SF, CATALOG_DATA_SEED)
        with open(marker, "w") as fh:
            fh.write(tree_digest([os.path.relpath(out, ROOT)]))
    return out


# The program's own JVM settings (build.sbt), with a 4 GiB heap under the
# parallel collector: under G1, the default, ingest's peak RSS and batch
# times drifted from run to run; see README.md.
JAVA_OPTS = [
    "-Xmx4g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]

# Catalog JVMs only: the C1 compiler alone. With the default C2 JIT a catalog
# run's two passes take about 80 s, which the benchmark's run budget does not
# hold; see README.md.
CATALOG_JIT = ["-XX:TieredStopAtLevel=1"]


def jvm(cp, run_dir, timeout=JVM_TIMEOUT_S, **kv):
    """Runs the harness's Main and returns its jvm.json."""
    opts = JAVA_OPTS + (CATALOG_JIT if kv["mode"] != "ingest" else [])
    os.makedirs(run_dir, exist_ok=True)
    args = [f"{k}={v}" for k, v in kv.items()] + [f"out={run_dir}"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.run(
            ["java"] + opts + ["-Djava.io.tmpdir=" + run_dir, "-cp", cp,
                                    "perfbench.Main"] + args,
            cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT,
            timeout=timeout)
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {proc.returncode}")
    with open(os.path.join(run_dir, "jvm.json")) as fh:
        return json.load(fh)


def classification(cp, data):
    """Query -> scanned tables, from running the whole catalog once."""
    key = tree_digest(BUILD_INPUTS + ["perfbench/datagen.py"])
    cache = os.path.join(WORK, f"classify-{key}.json")
    if not os.path.exists(cache):
        log("classifying the catalog by the tables each query reads")
        run_dir = os.path.join(WORK, "runs", "classify")
        shutil.rmtree(run_dir, ignore_errors=True)
        got = jvm(cp, run_dir, CLASSIFY_TIMEOUT_S, mode="classify", data=data)
        with open(cache, "w") as fh:
            json.dump(got["queries"], fh, indent=1, sort_keys=True)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(cache) as fh:
        return json.load(fh)


def load_compare():
    """The repo's oracle comparison (dev/compare.py), used as a library."""
    spec = importlib.util.spec_from_file_location(
        "graft_compare", os.path.join(ROOT, "dev", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duckdb_over(data):
    """A DuckDB connection with a view of each catalog table."""
    import duckdb
    con = duckdb.connect()
    for t in metrics.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    return con


def oracle_digests(data, queries):
    """{sql: (columns, row digest)} of DuckDB's answers, cached per table set:
    the oracle side depends only on the tables and the SQL text."""
    canon = load_compare().canon
    cache = os.path.join(WORK, f"oracle-{os.path.basename(data)}.json")
    known = {}
    if os.path.exists(cache):
        with open(cache) as fh:
            known = json.load(fh)
    todo = [sql for sql in queries if sql not in known]
    if todo:
        con = duckdb_over(data)
        for sql in todo:
            df = con.execute(sql).fetchdf()
            cols = sorted(df.columns)
            known[sql] = [cols, metrics.digest(
                canon(df[cols].itertuples(index=False, name=None)))]
        with open(cache, "w") as fh:
            json.dump(known, fh)
    return {sql: known[sql] for sql in queries}


def check_catalog(got, data, oracles, expected):
    """Per query: None if its output is right, else the reason it is not.
    Oracled queries must hash-match DuckDB over the same tables; cap
    queries must return at least one row.
    """
    canon = load_compare().canon
    con = duckdb_over(data)
    verdicts = {}
    for name, c in sorted(got["correctness"].items()):
        out = os.path.join(got["results_dir"], name)
        if c["error"]:
            verdicts[name] = "threw: " + c["error"]
            continue
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet('{out}/*.parquet')").fetchdf()
        except Exception as e:  # no part files: the query produced nothing
            verdicts[name] = f"no output: {e}"
            continue
        if oracles[name] is None:
            verdicts[name] = None if len(spark_df) > 0 else "cap returned 0 rows"
            continue
        want_cols, want = expected[oracles[name]]
        cols = sorted(spark_df.columns)
        if cols != want_cols:
            verdicts[name] = f"columns {cols} vs {want_cols}"
            continue
        got_digest = metrics.digest(
            canon(spark_df[cols].itertuples(index=False, name=None)))
        verdicts[name] = None if got_digest == want else "hash mismatch"
    return verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = classpath()
    data = catalog_data()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    common = dict(data=data, seed=a.seed, seconds=a.seconds, trace=a.trace)
    details = {"workload": a.workload, "seed": a.seed, "trace": a.trace}

    # Set-up time starts at JVM launch: the build, the generated tables, the
    # classification and DuckDB's answers are cached per checkout, and are
    # done before it.
    if a.workload == "ingest":
        t_jvm = time.time()
        got = jvm(cp, run_dir, mode="ingest", **common)
        verify_s = 0.0
        details["corpus_digest"] = got["corpus_digest"]
        details["wrong_docs"] = got["wrong_docs"]
        result = metrics.ingest_result(got)
    else:
        classes = classification(cp, data)
        names = metrics.split(classes)[a.workload]
        oracles = {n: classes[n]["oracle"] for n in names}
        expected = oracle_digests(data, [o for o in oracles.values() if o])
        qfile = os.path.join(run_dir, "queries.txt")
        os.makedirs(run_dir, exist_ok=True)
        with open(qfile, "w") as fh:
            fh.write("\n".join(names) + "\n")
        t_jvm = time.time()
        got = jvm(cp, run_dir, mode="catalog", queries=qfile, **common)
        got["results_dir"] = os.path.join(run_dir, "results")
        t_verify = time.time()
        verdicts = check_catalog(got, data, oracles, expected)
        verify_s = time.time() - t_verify
        details["queries"] = len(names)
        details["wrong_queries"] = {k: v for k, v in verdicts.items() if v}
        result = metrics.catalog_result(got, verdicts)
    window_start = got["window"]["window_start_epoch_ms"] / 1000.0
    setup_s = (window_start - t_jvm) + verify_s
    details.update(result.pop("details"))
    details["jvm_s"] = round(time.time() - t_jvm, 3)
    details["setup_ms"] = got["setup_ms"]
    if a.trace:
        details["end_to_end"] = metrics.end_to_end(result, setup_s)
        out_metrics = metrics.per_layer(
            got["per_layer"], "ingest" if a.workload == "ingest" else "catalog")
        details["spans"] = got.get("spans")
    else:
        out_metrics = metrics.end_to_end(result, setup_s)
    print(json.dumps(details, sort_keys=True))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": out_metrics,
    }))
    shutil.rmtree(os.path.join(run_dir, "spark"), ignore_errors=True)


if __name__ == "__main__":
    main()
