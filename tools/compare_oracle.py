#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the sfDir
parquet tables, sorts columns by name and rows by all columns, and
compares values cell-by-cell (floats to 12 significant digits).

KNOWN BLIND SPOT (round 11): this stand-in is NOT faithful to the driver
for DECIMAL output columns. `q_gwet_ac1` emitted DECIMAL(38,0) columns
that passed here (values and DuckDB-visible types identical at sf0.001,
sf0.01 and sf0.1) yet failed the driver's hash_match — the driver's hash
canonicalization of decimal OUTPUT values diverges from str()-rendering
below in some way we cannot observe locally. Until the driver's decimal
rendering is known, any gate emitting decimal columns is UNVERIFIABLE
locally; GateSchemaSpec therefore bans DecimalType from gate output
schemas (keep decimal lanes internal, emit gcd-reduced BIGINT rationals
or canonical strings). main() also fails loud on decimal outputs.
"""
import json
import math
import os
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.12g}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    out = sorted(tuple(cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def types_of(rel):
    """Column types sorted by column name — the driver's hash is
    TYPE-sensitive (round 4's only red gate was a DuckDB HUGEINT vs Spark
    BIGINT mismatch with identical values), so the local gate must compare
    types too, via duckdb's view of both sides."""
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    return [str(rel.types[i]) for i in order]


def connect(sf_dir):
    con = duckdb.connect()
    # Heavy sf1.0 oracles (ann_ivfpq's 16M-row PQ-code joins) exceed
    # DuckDB's default in-memory budget when other JVMs share the box;
    # an explicit limit + spill dir lets them finish instead of OOMing.
    lim = os.environ.get("DUCKDB_MEMORY_LIMIT")
    if lim:
        con.execute(f"SET memory_limit = '{lim}'")
        con.execute("SET temp_directory = '/tmp/duckspill'")
        con.execute("SET max_temp_directory_size = '60GB'")
    for t in TABLES:
        # driver fixtures are single files; a Spark-written table is a
        # directory -> glob its part files
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def main(sf_dir, out_dir, json_out=None):
    con = connect(sf_dir)
    # Spill blocks live until connection close, so one monster oracle
    # can exhaust the shared temp cap for every LATER gate in the run
    # (seen live: ann_ivfpq left 49 GB that OOM'd graph_hits). Under a
    # memory limit, give each gate a fresh connection.
    per_gate_con = os.environ.get("DUCKDB_MEMORY_LIMIT") is not None
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    n_pass = n_fail = 0
    try:
        failed = json.load(open(f"{out_dir}/_failed.json"))
    except Exception:  # noqa: BLE001
        failed = {}
    for name, msg in sorted(failed.items()):
        print(f"FAIL {name}: gate threw: {msg}")
        results[name] = {"pass": False, "why": f"gate threw: {msg}"}
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if name in failed:
            continue
        if per_gate_con:
            con.close()
            con = connect(sf_dir)
        try:
            spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            s_types = types_of(spark_rel)
            s_cols, s_rows = canon(spark_rel.fetchall(), spark_rel.columns)
            duck_rel = con.sql(sql)
            d_types = types_of(duck_rel)
            d_cols, d_rows = canon(duck_rel.fetchall(), duck_rel.columns)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}")
            results[name] = {"pass": False, "why": str(e)[:200]}
            n_fail += 1
            continue
        dec_cols = [c for c, t in zip(
            sorted(spark_rel.columns), s_types) if "DECIMAL" in t]
        if dec_cols:
            # see module docstring: decimal outputs are locally
            # unverifiable (driver hash canonicalization divergence)
            print(f"FAIL {name}: decimal output columns {dec_cols} — "
                  "banned (unverifiable locally, round-11 q_gwet_ac1)")
            results[name] = {"pass": False,
                             "why": f"decimal output cols {dec_cols}"}
            n_fail += 1
        elif s_cols != d_cols:
            print(f"FAIL {name}: columns {s_cols} != {d_cols}")
            results[name] = {"pass": False, "why": "columns"}
            n_fail += 1
        elif s_types != d_types:
            print(f"FAIL {name}: types spark={s_types} != duck={d_types}")
            results[name] = {"pass": False, "why": "types"}
            n_fail += 1
        elif s_rows != d_rows:
            diff = sum(1 for a, b in zip(s_rows, d_rows) if a != b)
            print(f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)} "
                  f"diffs~{diff}")
            for a, b in list(zip(s_rows, d_rows))[:200]:
                if a != b:
                    print(f"  spark={a}\n  duck ={b}")
                    break
            results[name] = {"pass": False, "why": "values"}
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows)")
            results[name] = {"pass": True, "rows": len(s_rows)}
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    if json_out:
        json.dump({"sf_dir": sf_dir, "out_dir": out_dir,
                   "n_pass": n_pass, "n_fail": n_fail,
                   "results": results},
                  open(json_out, "w"), indent=1, sort_keys=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
