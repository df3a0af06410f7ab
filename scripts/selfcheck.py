#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Reads the Verify output dir (per-query parquet + oracle_sql.json), registers
the raw sf tables as DuckDB views, runs each oracle SQL, and compares against
the Spark result: columns sorted by name, rows sorted, values normalized.
Reports exact-match / float-tolerance-match / mismatch per query.

Usage: python3 scripts/selfcheck.py /root/testdata/sf0.01 /tmp/verify_out
"""
import json, math, sys
import duckdb

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v

def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out

def cells_close(a, b):
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(cells_close(x, y) for x, y in zip(a, b))
    return False

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    import os
    # attempted.json (written by Verify before any query runs) is the
    # ground truth for which queries SHOULD have output: an attempted query
    # with no dir failed before its write (streams drain and indexes train
    # inside the query fn) and must count as a failure, while queries
    # outside a filtered dump are legitimately absent
    try:
        attempted = set(json.load(open(f"{out_dir}/attempted.json")))
    except Exception:
        attempted = set(oracle)  # pre-manifest dump: expect everything
    # failures.json (written by Verify): query -> exception message, so a
    # failed query reports its actual error instead of a generic NO-OUTPUT
    try:
        failures = json.load(open(f"{out_dir}/failures.json"))
    except Exception:
        failures = {}
    results = {}
    vacuous = []  # compared, but 0 rows on both sides: the check shows nothing
    import time
    t_start = time.time()
    for name in sorted(oracle):
        if name not in attempted:
            continue
        # progress line per query (stderr, flushed): big-SF oracle runs take
        # minutes per heavy query — an opaque multi-hour run is undebuggable
        print(f"[selfcheck +{time.time() - t_start:7.1f}s] {name}",
              file=sys.stderr, flush=True)
        if not os.path.isdir(f"{out_dir}/{name}"):
            msg = failures.get(name, "query failed before its write (see Verify stderr)")
            results[name] = f"NO-OUTPUT: {msg}"
            continue
        try:
            spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            s_cols = [c.lower() for c in spark_rel.columns]
            s_rows = spark_rel.fetchall()
        except Exception as e:
            results[name] = f"SPARK-READ-FAIL: {e}"
            continue
        try:
            duck_rel = con.sql(oracle[name])
            d_cols = [c.lower() for c in duck_rel.columns]
            d_rows = duck_rel.fetchall()
        except Exception as e:
            results[name] = f"ORACLE-FAIL: {str(e)[:200]}"
            continue
        def dtype_probe():
            # Replicate the driver's pandas-level hashing: a HUGEINT (int128)
            # oracle column materializes as dtype=object vs Spark's int64 and
            # hash-mismatches even when values are equal. Re-executes both
            # sides via .df(), so only called once rows already match.
            try:
                s_dt = {c.lower(): str(t) for c, t in
                        con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
                        .df().dtypes.items()}
                d_dt = {c.lower(): str(t) for c, t in
                        con.sql(oracle[name]).df().dtypes.items()}
            except Exception:
                return [], {}, {}
            def kind(t):
                # int width doesn't change the pandas hash; object (e.g.
                # HUGEINT) vs numeric, or float vs int, does.
                if t.startswith(("int", "uint")): return "int"
                if t.startswith("float"): return "float"
                return t
            bad = [c for c in s_dt
                   if c in d_dt and kind(s_dt[c]) != kind(d_dt[c])]
            return bad, s_dt, d_dt
        sc, sr = norm_rows(s_cols, s_rows)
        dc, dr = norm_rows(d_cols, d_rows)
        if not sr and not dr:
            vacuous.append(name)
        if sc != dc:
            results[name] = f"SCHEMA-MISMATCH spark={sc} duck={dc}"
        elif len(sr) != len(dr):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(sr)} duck={len(dr)}"
        elif sr == dr:
            dt_bad, s_dt, d_dt = dtype_probe()
            if dt_bad:
                results[name] = ("DTYPE-MISMATCH (hash would mismatch): " +
                                 ", ".join(f"{c} spark={s_dt[c]} duck={d_dt[c]}"
                                           for c in dt_bad))
            else:
                results[name] = f"EXACT ({len(sr)} rows)"
        else:
            n_bad = sum(1 for a, b in zip(sr, dr) if not cells_close(a, b))
            if n_bad == 0:
                results[name] = f"CLOSE-ONLY ({len(sr)} rows; hash would MISMATCH)"
                for a, b in zip(sr, dr):
                    if a != b:
                        results[name] += f"\n    first diff: spark={a} duck={b}"
                        break
            else:
                results[name] = f"VALUE-MISMATCH {n_bad}/{len(sr)} rows differ"
                shown = 0
                for a, b in zip(sr, dr):
                    if not cells_close(a, b) and shown < 3:
                        results[name] += f"\n    spark={a}\n    duck ={b}"
                        shown += 1
    n_exact = sum(1 for v in results.values() if v.startswith("EXACT"))
    for name, v in results.items():
        flag = "OK " if v.startswith("EXACT") else "!! "
        print(f"{flag}{name}: {v}")
    print(f"vacuous (0 rows on both sides): {vacuous}")
    # queries with no oracle entry
    import os
    no_oracle = [d for d in sorted(os.listdir(out_dir))
                 if os.path.isdir(f"{out_dir}/{d}") and d not in oracle]
    if no_oracle:
        print(f"rows-only (no oracle): {no_oracle}")
    n_skipped = len(oracle) - len(results)
    if n_skipped:
        print(f"(partial dump: {n_skipped} oracled queries outside the filter, skipped)")
    print(f"\n{n_exact}/{len(results)} EXACT")
    # an empty compare (nothing attempted matched an oracle) must not pass
    return 0 if results and n_exact == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
