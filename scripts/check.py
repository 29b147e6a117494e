#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/check.py <verify_out_dir> <sf_dir> [query ...]

Exits 0 only when at least one query was compared and none failed. A
requested query name that has no entry in oracle_sql.json is a failure.

Reads each <out>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <out>/oracle_sql.json in DuckDB over the fixture
parquet tables, and compares BOTH the arrow-level result types and the
values (exact — no float tolerance).

Hardened after round 8: the driver's hasher does not normalize DECIMAL
(or mismatched temporal types) across engines, while this gate's old
float()-coercion silently passed them — 10 driver-red queries were
locally "green". Rules now enforced (see functions/ExactRound.scala):

 1. NO DECIMAL column may reach the comparison boundary, on either
    engine. (DuckDB HUGEINT exports as decimal128(38,0) — also banned;
    cast to BIGINT/DOUBLE in the oracle SQL.)
 2. Both engines must present the same type FAMILY per column
    (int / float / string / bool / date / timestamp) — in particular
    timestamp-vs-date fails.
 3. Value comparison is exact: floats must be bit-identical.
"""
import json
import math
import sys

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def family(t: pa.DataType) -> str:
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{family(t.value_type)}>"
    return str(t)


def type_errors(name: str, got: pa.Table, exp: pa.Table):
    errs = []
    gt = {f.name: f.type for f in got.schema}
    xt = {f.name: f.type for f in exp.schema}
    for c in sorted(set(gt) | set(xt)):
        gf = family(gt[c]) if c in gt else "<missing>"
        xf = family(xt[c]) if c in xt else "<missing>"
        if "decimal" in gf or "decimal" in xf:
            errs.append(f"column {c}: DECIMAL at oracle boundary "
                        f"(spark={gt.get(c)}, oracle={xt.get(c)}) — "
                        f"cast to DOUBLE/BIGINT on both engines")
        elif gf != xf:
            errs.append(f"column {c}: type family mismatch "
                        f"spark={gf} ({gt.get(c)}) vs oracle={xf} ({xt.get(c)})")
    return errs


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        key=lambda s: s.astype(str))
    return df


def cell_eq(a, b):
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb  # exact: the driver hash-compares, no tolerance
    return str(a) == str(b)


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(only - set(oracle)):
        print(f"FAIL {name}: not in oracle_sql.json")
        n_fail += 1
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        try:
            got_t = pq.read_table(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})")
            n_fail += 1
            continue
        try:
            exp_t = con.sql(sql).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        terrs = type_errors(name, got_t, exp_t)
        if terrs:
            print(f"FAIL {name}: " + "; ".join(terrs))
            n_fail += 1
            continue
        g, x = canon(got_t.to_pandas()), canon(exp_t.to_pandas())
        if list(g.columns) != list(x.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(x.columns)}")
            n_fail += 1
            continue
        if len(g) != len(x):
            print(f"FAIL {name}: rows {len(g)} != {len(x)}")
            n_fail += 1
            continue
        bad = []
        for ci, c in enumerate(g.columns):
            gv, xv = g[c].tolist(), x[c].tolist()
            for ri in range(len(gv)):
                if not cell_eq(gv[ri], xv[ri]):
                    bad.append((ri, c, gv[ri], xv[ri]))
                    if len(bad) >= 5:
                        break
            if len(bad) >= 5:
                break
        if bad:
            print(f"FAIL {name}: {len(bad)}+ diffs, e.g. {bad[:3]}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(g)} rows x {len(g.columns)} cols")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail or not n_pass else 0)


if __name__ == "__main__":
    main()
