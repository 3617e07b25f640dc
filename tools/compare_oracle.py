#!/usr/bin/env python3
"""DuckDB oracle compare (SKILL.md style): given a graft.Verify output dir
(per-query spark parquet + oracle_sql.json) and the sf data dir, run every
oracle SQL in DuckDB over the parquet tables and diff rows/schema against the
spark results. Exact value compare on sorted rows (stronger than the driver's
hash). Usage: compare_oracle.py <verify_out_dir> <sf_dir> [query ...]"""
import sys, os, json, glob, math

import duckdb


def sql_str(s):
    """`s` as a SQL string literal: a quote inside is doubled, so a path
    containing ' cannot end the literal early."""
    return "'" + s.replace("'", "''") + "'"


def load_tables(con, sf_dir):
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet({sql_str(src)})"
        )


def canon(v):
    # Stringify every value: sorted() would TypeError on a column that
    # mixes None with values (or ints with strings) across rows.
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def rows_of(cur):
    return sorted(tuple(canon(v) for v in r) for r in cur.fetchall())


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    load_tables(con, sf_dir)
    failures = 0
    for name in sorted(oracles):
        if only and name not in only:
            continue
        spark_dir = os.path.join(out_dir, name)
        if not os.path.isdir(spark_dir):
            print(f"{name}: MISSING spark output")
            failures += 1
            continue
        try:
            cur = con.execute(oracles[name])
            o_cols = [d[0] for d in cur.description]
            o_rows = rows_of(cur)
            cur2 = con.execute(
                "SELECT * FROM read_parquet("
                + sql_str(os.path.join(spark_dir, "*.parquet")) + ")"
            )
            s_cols = [d[0] for d in cur2.description]
            s_rows = rows_of(cur2)
        except Exception as e:
            print(f"{name}: ERROR {e}")
            failures += 1
            continue
        ok_cols = o_cols == s_cols
        ok_rows = o_rows == s_rows
        if ok_cols and ok_rows:
            print(f"{name}: OK ({len(s_rows)} rows)")
        else:
            failures += 1
            print(f"{name}: MISMATCH cols_ok={ok_cols} rows_ok={ok_rows} "
                  f"spark={len(s_rows)} oracle={len(o_rows)}")
            if not ok_cols:
                print(f"  spark cols:  {s_cols}\n  oracle cols: {o_cols}")
            if not ok_rows:
                sset, oset = set(s_rows), set(o_rows)
                for r in list(sset - oset)[:3]:
                    print(f"  spark-only:  {r}")
                for r in list(oset - sset)[:3]:
                    print(f"  oracle-only: {r}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
