"""Output checks, made after the timed window, outside the program.

- etl_batch / etl_stream: every run's six counters must equal the
  independent replay (gen.replay_counters); for etl_batch the inserted
  parquet row count and the duplicates-file row count must too, and for
  etl_stream the duplicates file.
- query_mix: the first output of each registered row is compared with
  its DuckDB oracle (SparkEntry.oracleSql) over the same input tables,
  order-insensitively (columns by name, rows sorted, floats by exact
  repr); every later output of the row must equal that first one. A row
  without an oracle gets only the second check.

A throw or a mismatch counts as a failed operation, never as a time.
"""
import glob
import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]
COUNTERS = ["total", "parsed", "invalid", "duplicates", "inserted", "duplicatesFile"]


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in v.items()) + "}"
    return str(v)


def canonical(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_cell(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def _digest(canon):
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def _csv_rows(path):
    n = 0
    for part in glob.glob(os.path.join(path, "*.csv")):
        with open(part) as f:
            n += max(0, sum(1 for line in f if line.strip()) - 1)
    return n


def _check_etl(res, inputs, con):
    want = inputs["expected"]
    attempted, problems = 0, []
    for op in res["ops"]:
        if op["kind"] not in ("etl", "stream"):
            continue
        attempted += 1
        got = op["counters"]
        bad = [f"{k}={got[k]} want {want[k]}" for k in COUNTERS if got[k] != want[k]]
        if op["kind"] == "etl":
            n = con.sql(f"SELECT count(*) FROM read_parquet('{op['trips']}/*.parquet')").fetchone()[0]
            if n != want["inserted"]:
                bad.append(f"trips parquet rows={n} want {want['inserted']}")
        n = _csv_rows(op["duplicates"])
        if n != want["duplicates"]:
            bad.append(f"duplicates file rows={n} want {want['duplicates']}")
        if bad:
            problems.append(f"{op['kind']} {op['trips']}: " + "; ".join(bad))
    return attempted, problems


def _check_calls(res, con):
    oracle = res.get("oracle_sql", {})
    first = {}
    attempted, problems = 0, []
    for op in res["ops"]:
        if "row" not in op:
            continue
        attempted += 1
        row = op["row"]
        if "error" in op:
            problems.append(f"{row}: threw {op['error']}")
            continue
        try:
            canon = canonical(con.sql(f"SELECT * FROM read_parquet('{op['out']}/*.parquet')"))
        except Exception as e:  # unreadable output is a failed operation
            problems.append(f"{row}: cannot read output {op['out']}: {e}")
            continue
        digest = _digest(canon)
        if row in first:
            if digest != first[row]:
                problems.append(f"{row}: output {op['out']} differs from the row's first output")
            continue
        first[row] = digest
        if row in oracle:
            try:
                want = canonical(con.sql(oracle[row]))
            except Exception as e:
                problems.append(f"{row}: oracle failed: {e}")
                continue
            if want != canon:
                what = ("columns" if want[0] != canon[0] else
                        f"rows {len(canon[1])} vs oracle {len(want[1])}"
                        if len(want[1]) != len(canon[1]) else "values")
                problems.append(f"{row}: output differs from its DuckDB oracle ({what})")
    return attempted, problems, sorted(r for r in first if r in oracle)


def check(res, inputs, data_dir):
    import duckdb
    con = duckdb.connect()
    out = {}
    if "expected" in inputs:
        attempted, problems = _check_etl(res, inputs, con)
    else:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        attempted, problems, out["oracle_checked"] = _check_calls(res, con)
    con.close()
    out.update(attempted=attempted, failed=len(problems), problems=problems)
    return out
