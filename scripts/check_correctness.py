"""Local stand-in for the driver's t2 gate: run graft.Verify output against
DuckDB oracles and compare (sort columns by name, sort rows, compare values).

Usage: python3 scripts/check_correctness.py <sfDir> <verifyOutDir>
       python3 scripts/check_correctness.py <verifyOutDir> --against <otherVerifyOutDir>

The --against mode compares each query's output with the same query in a
second graft.Verify dump (e.g. one taken at a parent commit) with the same
canonical sort, dtype check and cell comparison; a query present in only one
dump fails.
"""
import os, sys, json, glob, math
import duckdb
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def cmp_cell(a, b):
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            if a is None or b is None:
                return (a is None) == (b is None)
            if math.isnan(a) and math.isnan(b):
                return True
            return a == b
    except TypeError:
        pass
    return str(a) == str(b)


def compare(name, g, e, other="oracle"):
    """One verdict line for Spark output `g` against expected `e`."""
    g, e = canon(g), canon(e)
    if list(g.columns) != list(e.columns):
        return False, f"FAIL {name}: columns {list(g.columns)} != {list(e.columns)}"
    dt_bad = [(c, str(g[c].dtype), str(e[c].dtype))
              for c in g.columns if str(g[c].dtype) != str(e[c].dtype)]
    if dt_bad:
        return False, f"FAIL {name}: dtypes differ {dt_bad}"
    if len(g) != len(e):
        return False, f"FAIL {name}: rows {len(g)} != {len(e)}"
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if not cmp_cell(a, b):
                return False, f"FAIL {name}: col {c} row {i}: spark={a!r} {other}={b!r}"
    return True, f"PASS {name} ({len(g)} rows, {len(g.columns)} cols)"


def read_out(con, out_dir, name):
    """A query's Verify output as a DataFrame, or None when it wrote none."""
    if not glob.glob(f"{out_dir}/{name}/*.parquet"):
        return None
    return con.sql(
        f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()


def queries_in(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def verdicts_against(con, out_dir, other_dir):
    for name in sorted(queries_in(out_dir) | queries_in(other_dir)):
        got, exp = read_out(con, out_dir, name), read_out(con, other_dir, name)
        if got is None or exp is None:
            side = out_dir if got is None else other_dir
            yield False, f"FAIL {name}: no output in {side}"
        else:
            yield compare(name, got, exp, other="other")


def verdicts_oracle(con, sf_dir, out_dir):
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    for name, sql in sorted(oracles.items()):
        got = read_out(con, out_dir, name)
        if got is None:
            yield False, f"FAIL {name}: no spark output"
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            yield False, f"FAIL {name}: oracle error {e}"
            continue
        yield compare(name, got, exp)


def main():
    args = sys.argv[1:]
    con = duckdb.connect()
    if len(args) == 3 and args[1] == "--against":
        verdicts = verdicts_against(con, args[0], args[2])
    elif len(args) == 2:
        verdicts = verdicts_oracle(con, args[0], args[1])
    else:
        sys.exit(__doc__)
    n_pass = n_fail = 0
    for ok, line in verdicts:
        print(line)
        n_pass += ok
        n_fail += not ok
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
