"""The benchmark's one command: runs a named workload in one JVM, checks
every output against DuckDB, and prints one JSON line of metrics.

Usage:
  python3 perfbench/run.py --workload interactive|ingest_serve
                           --seed N --seconds S --trace 0|1

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Build outputs, generated tables and per-run files go to `.bench_build/`.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("interactive", "ingest_serve")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
# a run must end within 180 s; runs took 17-61 s here (README)
JVM_TIMEOUT_S = 170
# the class-data archives are made in the first run in a checkout
TRAIN_TIMEOUT_S = 300
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def selfcheck():
    """The program's own oracle normalization (scripts/selfcheck.py)."""
    path = os.path.join(ROOT, "scripts", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def tables(sf):
    """Generated tables for scale `sf`, made once per generator version."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(OUT, "data", tag, f"sf{sf}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, sf)
        open(os.path.join(d, "_done"), "w").close()
    return os.path.dirname(d)


def java(jar, flags, main_args, run_dir, timeout):
    """Runs perfbench.Main in its own JVM with the program's JVM settings;
    its log goes to `<run_dir>/jvm.log`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # C1 only (TieredStopAtLevel=1): every op compiles new generated classes,
    # which under the default tiered compiler keep C2 busy through the whole
    # run; with C1 the JIT nearly settles, at the cost of a 10-20% slower
    # steady state (see perfbench/README.md)
    cmd = (["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o)] + flags +
           ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-Xmx4g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main"] + main_args + ["--out", run_dir])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {timeout} s")
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {code}")


def class_archive(jar, workload, data):
    """The JVM's class-data archive for `workload`, made once per build by
    a training JVM that runs the workload's set-up and one round of every
    kind. Loading Spark's classes from it instead of the jars takes
    about 10 s off every run's set-up here."""
    jsa = jar[:-len(".jar")] + f"-{workload}.jsa"
    if not os.path.exists(jsa):
        run_dir = os.path.join(OUT, "runs", f"{workload}-train")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        print(f"perfbench: training the {workload} class-data archive", file=sys.stderr,
              flush=True)
        java(jar, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"],
             ["--workload", workload, "--seed", "0", "--seconds", "0", "--trace", "0",
              "--train", "1", "--data", data], run_dir, TRAIN_TIMEOUT_S)
        if not os.path.exists(jsa + ".tmp"):
            raise SystemExit(f"perfbench: the JVM wrote no class-data archive for {workload}")
        os.rename(jsa + ".tmp", jsa)
    return jsa


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_refs(result, data_dir):
    """Kind -> whether its reference output equals DuckDB running the
    kind's oracle, compared as scripts/selfcheck.py compares them."""
    sc = selfcheck()
    con = duck(data_dir)
    ok = {}
    for kind, ref in result["refs"].items():
        try:
            s = con.sql(f"SELECT * FROM '{ref['dir']}/*.parquet'")
            d = con.sql(ref["sql"])
            sc_cols, s_rows = sc.norm_rows([c.lower() for c in s.columns], s.fetchall())
            dc_cols, d_rows = sc.norm_rows([c.lower() for c in d.columns], d.fetchall())
            ok[kind] = sc_cols == dc_cols and s_rows == d_rows
        except Exception as e:  # an oracle that cannot run checks nothing
            print(f"perfbench: {kind} oracle failed: {e}", file=sys.stderr)
            ok[kind] = False
        if not ok[kind]:
            print(f"perfbench: {kind} differs from its DuckDB oracle", file=sys.stderr)
    return ok


def ingest_checker(result, data_dir):
    """Returns check(record) -> bool for the ingest_serve ops, replaying the
    live corpus and the consumed events slices in DuckDB."""
    import pyarrow as pa
    rp = result["replay"]
    con = duck(data_dir)
    sql = rp["bm25_sql"]
    corpus_src = "FROM documents WHERE doc_id % 101 <> 5"
    if corpus_src not in sql or "FROM documents WHERE doc_id % 101 = 5" not in sql:
        raise SystemExit("perfbench: e30 oracle no longer has the expected corpus clauses")
    # e30's corpus, which the document stream replays
    texts = [r[0] for r in con.sql(
        f"SELECT text {corpus_src} ORDER BY doc_id").fetchall()]
    n, bd = len(texts), rp["batch_docs"]
    total = con.sql("SELECT count(*) FROM events").fetchone()[0]
    sql = sql.replace(corpus_src, "FROM live_docs")

    def live_docs(batches):
        ids = [b * bd + j for b in batches for j in range(bd)]
        return ids, [texts[(rp["step_a"] * p + rp["step_b"]) % n] for p in ids]

    def check(rec):
        ids, docs = live_docs(rec.get("live", []))
        if rec["op"] in ("ingest", "takedown"):
            toks = [len(t.split()) for t in docs]
            chunks = sum(max(1, -(-k // 16)) for k in toks)
            return rec["n_docs"] == chunks and rec["len_sum"] == sum(toks)
        if rec["op"] == "serve":
            con.register("live_docs", pa.table({"doc_id": ids, "text": docs}))
            want = sorted(tuple(r) for r in con.sql(sql).fetchall())
            return rec["repeat_equal"] and sorted(tuple(r) for r in rec["rows"]) == want
        if rec["op"] == "events":
            se, lap_us = rp["slice_events"], rp["lap_days"] * 86400 * 10**6
            parts = []
            for s in range(rec["slices"]):
                lap, lo = divmod(s * se, total)
                parts.append(f"SELECT {lap} AS lap, * FROM events WHERE event_id >= {lo} "
                             f"AND event_id < {lo + se}")
            rows = con.sql(
                "SELECT epoch_us(date_trunc('hour', ts)) + lap * " + str(lap_us) +
                " AS w, event_type, count(*) AS n,"
                " sum(CAST(floor(value * 1000) AS BIGINT)) AS v FROM (" +
                " UNION ALL ".join(parts) + ") GROUP BY ALL").fetchall()
            fp = 0
            for w, et, cnt, v in rows:
                line = f"{w}|{et}|{cnt}|{v}".encode()
                fp += int.from_bytes(hashlib.md5(line).digest()[:8], "big")
            return rec["n_rows"] == len(rows) and rec["fingerprint"] == str(fp % 2**64)
        return False
    return check


def unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_busy", "_amp")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jar = build.build()
    data = tables(0.01)
    archives = {w: class_archive(jar, w, data) for w in WORKLOADS}
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-{'traced' if args.trace else 'plain'}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    java(jar, [f"-XX:SharedArchiveFile={archives[args.workload]}"],
         ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
          "--trace", str(args.trace), "--data", data], run_dir, JVM_TIMEOUT_S)
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)

    ops = result["ops"]
    if result["refs"]:
        ref_ok = check_refs(result, os.path.join(data, "sf0.01"))
        passed = [ref_ok.get(o["kind"], False) and o["match_ref"] for o in ops]
    else:
        check = ingest_checker(result, os.path.join(data, "sf0.01"))
        passed = [check(o["check"]) for o in ops]
    failed = passed.count(False)
    for o, p in zip(ops, passed):
        if not p:
            print(f"perfbench: failed op {o['kind']}", file=sys.stderr)

    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    medians = {k: statistics.median(v) for k, v in by_kind.items()}
    summary = {"seed": args.seed, "cycles": result["cycles"], "kinds": {
        k: {"median_ms": medians[k], "samples": len(v)} for k, v in by_kind.items()}}
    if args.trace:
        summary["layers_by_kind"] = result["layers_by_kind"]
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in result["layers"].items()}
    else:
        total_ms = sum(o["ms"] for o in ops)
        metrics = {
            "setup_s": {"value": result["setup_s"], "unit": "s"},
            "ops_per_s": {"value": len(ops) / (total_ms / 1000.0), "unit": "1/s"},
            "latency_geomean_ms": {"value": math.exp(
                sum(math.log(m) for m in medians.values()) / len(medians)), "unit": "ms"},
            "cpu_ms_per_op": {"value": sum(o["cpu_ms"] for o in ops) / len(ops), "unit": "ms"},
            "heap_live_mb": {"value": result["heap_live_mb"], "unit": "MB"},
        }
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": bool(ops) and failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
