#!/usr/bin/env python3
"""Local pre-flight mimic of the driver's DuckDB oracle compare.

Usage: python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01
For each query dir under verify_out: load Spark's parquet result (ALL part
files), run the oracle SQL from oracle_sql.json in DuckDB (tables = views
over the sf dir), then compare BOTH values and Arrow types. Each key gets
KEY_TIMEOUT_S seconds: past that a timer thread interrupts DuckDB and the
key counts as TIMEOUT, which fails the run like a FAIL does. Every line is
flushed as it is printed, so a redirected run shows each key as it ends.

 - HUGEINT anywhere in the oracle output schema is a hard FAIL even when
   values match: the driver hashes through Arrow, where DuckDB's HUGEINT
   becomes decimal128 and can never hash-equal Spark's int64 (this exact
   slip cost two queries in round 8).
 - Any other Arrow type mismatch between the Spark result and the oracle
   result is also a FAIL: the driver's hash is typed, so repr-equal values
   with different physical types still diverge there.
 - Values compare as before: sort columns by name, rows by repr of all
   columns, exact match.
"""
import sys, json, glob, os, threading
import duckdb

KEY_TIMEOUT_S = 120

def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(repr(r[i]) for i in order))
    return sorted(out), [cols[i] for i in order]

def arrow_types(tbl):
    """column name -> arrow type string, for typed comparison."""
    return {f.name: str(f.type) for f in tbl.schema}

def main(outdir, sfdir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracles = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    n_ok = n_bad = n_timeout = 0
    for name, sql in sorted(oracles.items()):
        pq = os.path.join(outdir, name)
        files = sorted(glob.glob(os.path.join(pq, "*.parquet")))
        if not files:
            print(f"FAIL {name}: no spark output", flush=True); n_bad += 1; continue
        timer = threading.Timer(KEY_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            # read_parquet over the full file list: a multi-part Spark
            # result compared via files[0] only would silently pass on a
            # fraction of the rows.
            flist = ", ".join(f"'{f}'" for f in files)
            s_tbl = con.execute(f"SELECT * FROM read_parquet([{flist}])").fetch_arrow_table()
            o_rel = con.sql(sql)
            o_tbl = o_rel.fetch_arrow_table()
        except Exception as e:
            if isinstance(e, duckdb.InterruptException) or not timer.is_alive():
                print(f"TIMEOUT {name}: oracle past {KEY_TIMEOUT_S} s", flush=True)
                n_timeout += 1
            else:
                print(f"FAIL {name}: {e}", flush=True); n_bad += 1
            continue
        finally:
            timer.cancel()
        s_types, o_types = arrow_types(s_tbl), arrow_types(o_tbl)
        if sorted(s_types) != sorted(o_types):
            print(f"FAIL {name}: cols spark={sorted(s_types)} oracle={sorted(o_types)}", flush=True)
            n_bad += 1; continue
        # HUGEINT slip: flag only when the SPARK side disagrees — a
        # deliberate decimal(38,0) column matching on both sides is
        # legitimate and hash-equal in the driver
        hug = [c for c, t in o_types.items()
               if t.startswith("decimal128(38, 0)") and s_types.get(c) != t]
        if hug:
            print(f"FAIL {name}: oracle emits HUGEINT (arrow decimal128(38,0)) "
                  f"column(s) {hug} — add CAST(... AS BIGINT) in the oracle SQL", flush=True)
            n_bad += 1; continue
        mismatch = {c: (s_types[c], o_types[c]) for c in s_types
                    if s_types[c] != o_types[c]}
        if mismatch:
            print(f"FAIL {name}: arrow type mismatch {mismatch}", flush=True)
            n_bad += 1; continue
        s_cols = list(s_types)
        o_cols = list(o_types)
        s_rows = [tuple(d.values()) for d in s_tbl.to_pylist()]
        o_rows = [tuple(d.values()) for d in o_tbl.to_pylist()]
        sn, cols = normalize(s_rows, s_cols)
        on, _ = normalize(o_rows, o_cols)
        if sn == on:
            print(f"ok   {name} ({len(sn)} rows)", flush=True); n_ok += 1
        else:
            print(f"FAIL {name}: rows spark={len(sn)} oracle={len(on)}", flush=True)
            for a, b in list(zip(sn, on))[:200]:
                if a != b:
                    print(f"  spark : {a}\n  oracle: {b}  (cols {cols})", flush=True)
                    break
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} failed, {n_timeout} timed out", flush=True)
    return 1 if n_bad or n_timeout else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
