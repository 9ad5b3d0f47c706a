#!/usr/bin/env python3
"""Correctness checker for the benchmark, run outside the timed region.

DuckDB (an engine apart from the program) computes the expected result of
each checked operation over the same generated tables; the program's
output (parquet written by the run) must match it cell for cell. Cells
are normalized by scripts/check_oracle.py's `frame_rows`, the project's
oracle-gate comparison, imported as is.

  python3 perfbench/check.py --self-test
      shows that a result with one dropped row, or one altered cell, is
      rejected (and that the unaltered result passes).
  python3 perfbench/check.py --rebuild-expected
      recomputes the cached expected results of the pipeline queries
      (run.py builds the cache on first use).
"""
import hashlib
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def _oracle_module():
    """scripts/check_oracle.py from the checkout this benchmark runs in."""
    sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
    import check_oracle  # noqa: E402
    return check_oracle


def digest(df):
    """(columns, row count, sha256) of a frame under the gate's normalization."""
    cols, rows = _oracle_module().frame_rows(df)
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return {"cols": list(cols), "rows": len(rows), "sha": h}


def connect(data_dir):
    """DuckDB with one view per generated table."""
    import duckdb
    con = duckdb.connect()
    for t in _oracle_module().TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected(con, sql):
    return digest(con.execute(sql).df())


def program_output(path):
    import glob
    import pandas as pd
    if not glob.glob(os.path.join(path, "*.parquet")):
        return None
    return digest(pd.read_parquet(path))


def compare(name, got, want):
    """None if equal, else a one-line reason."""
    if got is None:
        return f"{name}: no output"
    if got["cols"] != want["cols"]:
        return f"{name}: columns {got['cols']} != {want['cols']}"
    if got["rows"] != want["rows"]:
        return f"{name}: {got['rows']} rows != {want['rows']}"
    if got["sha"] != want["sha"]:
        return f"{name}: cell values differ"
    return None


def build_expected(data_dir, oracles, names):
    con = connect(data_dir)
    return {n: expected(con, oracles[n]) for n in names}


def check_registered(run_dir, names, want):
    res = os.path.join(run_dir, "results")
    return [e for e in (compare(n, program_output(os.path.join(res, n)), want[n])
                        for n in names) if e]


def check_interactive(run_dir, checks, data_dir):
    import pandas as pd
    errs = []
    con = connect(data_dir)
    res = os.path.join(run_dir, "results")
    for s in checks["statements"]:
        path = os.path.join(res, s["id"])
        if s["kind"] == "show":
            names = sorted(pd.read_parquet(path)["name"].tolist())
            if names != checks["live_tables"]:
                errs.append(f"{s['id']} SHOW TABLES listed {names}, live {checks['live_tables']}")
            continue
        e = compare(f"{s['id']} ({s['kind']})", program_output(path), expected(con, s["duck"]))
        if e:
            errs.append(e + f" | {s['sql']}")
    if "Unknown table" not in (checks.get("dropped_error") or ""):
        errs.append(f"dropped table did not raise 'Unknown table': {checks.get('dropped_error')}")
    if checks["tables_reopened"] != checks["tables_after"]:
        errs.append(f"reopened catalog lists {checks['tables_reopened']}, "
                    f"open catalog {checks['tables_after']}")
    return errs


def self_test():
    """A correct result passes; one dropped row or one altered cell fails."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    con = duckdb.connect()
    sql = ("SELECT i AS k, CAST(i AS DOUBLE) * 0.5 AS v, 'name_' || CAST(i AS VARCHAR) AS s "
           "FROM range(50) t(i) ORDER BY k")
    want = expected(con, sql)
    table = con.execute(sql).arrow()
    outcomes = {}
    with tempfile.TemporaryDirectory() as tmp:
        def verdict(label, t):
            d = os.path.join(tmp, label)
            os.makedirs(d)
            pq.write_table(t, os.path.join(d, "part-0.parquet"))
            outcomes[label] = compare(label, program_output(d), want)
        verdict("unaltered", table)
        verdict("dropped_row", table.slice(0, 49))
        v = table.column("v").to_pylist()
        v[17] = v[17] + 0.25
        verdict("altered_cell", table.set_column(1, "v", pa.array(v)))
    ok = (outcomes["unaltered"] is None and outcomes["dropped_row"] is not None
          and outcomes["altered_cell"] is not None)
    for k, v in outcomes.items():
        print(f"[self-test] {k}: {'accepted' if v is None else 'rejected (' + v + ')'}",
              file=sys.stderr)
    print(f"[self-test] {'PASS' if ok else 'FAIL'}", file=sys.stderr)
    return ok


def main():
    if "--self-test" in sys.argv:
        sys.exit(0 if self_test() else 1)
    if "--rebuild-expected" in sys.argv:
        sys.path.insert(0, HERE)
        import run
        run.prepare(force_expected=True)
        return
    print(__doc__)
    sys.exit(2)


if __name__ == "__main__":
    main()
