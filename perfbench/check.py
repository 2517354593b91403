"""Output checks for the benchmark, run after the timed region.

Query keys (query_mix, and c199 in pipelines_cold): each key's output
(written once per run, during the warm-up or after the timed operation)
is compared with the key's
`SparkEntry.oracleSql` statement run by DuckDB over the same generated
inputs, in the canon of the repo's oracle compare: columns sorted by
name, rows compared one by one in result order. Every timed execution's
row count must equal the oracle's.

The keyspace copy (pipelines_cold): the copy and repair must report `ok`, and each copied
table's source and destination row counts, as the engine reports them and
as DuckDB counts the destination files, must equal the generated count.
"""
import glob
import json
import os
import re

import duckdb

COPY_KEY = "copy_repair"
CTE_DEF = re.compile(r"(?m)^(\)?,?\s*(?:WITH (?:RECURSIVE )?)?)([A-Za-z_][A-Za-z0-9_]*) AS \(")


def materialized(sql):
    """The statement with every non-recursive CTE marked MATERIALIZED.

    DuckDB 1.0 inlines CTEs, so an oracle that reads one expensive CTE
    (c199's recursive connected components) through several others
    re-evaluates it at each use; materializing computes each once and
    gives the same rows.
    """
    defs = list(CTE_DEF.finditer(sql))
    out, last = [], 0
    for i, m in enumerate(defs):
        end = defs[i + 1].start() if i + 1 < len(defs) else len(sql)
        name = m.group(2)
        out.append(sql[last:m.start()])
        if re.search(rf"\b{name}\b", sql[m.end():end]):
            out.append(m.group(0))
        else:
            out.append(f"{m.group(1)}{name} AS MATERIALIZED (")
        last = m.end()
    return "".join(out) + sql[last:]


def _connect(data):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _compare(con, sql, out_dir):
    """(expected row count, None) on a match, (None, reason) otherwise."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return None, "no output written"
    try:
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
        try:
            exp = con.execute(materialized(sql)).fetch_arrow_table()
        except duckdb.Error:
            exp = con.execute(sql).fetch_arrow_table()
    except Exception as e:  # an oracle or read error is a failed check
        return None, f"oracle error: {e}"
    if sorted(got.column_names) != sorted(exp.column_names):
        return None, f"columns {sorted(got.column_names)} != {sorted(exp.column_names)}"
    g = got.select(sorted(got.column_names)).to_pylist()
    e = exp.select(sorted(exp.column_names)).to_pylist()
    if len(g) != len(e):
        return None, f"rows {len(g)} != {len(e)}"
    for i, (a, b) in enumerate(zip(g, e)):
        if a != b:
            return None, f"row {i} differs: engine={a} oracle={b}"
    return len(e), None


def _check_queries(work, indexed_ops, data):
    with open(os.path.join(work, "out", "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = _connect(data)
    failures = {}
    verdict = {}
    for i, op in indexed_ops:
        key = op["key"]
        if key not in verdict:
            verdict[key] = _compare(con, oracle[key], os.path.join(work, "out", key))
        n, reason = verdict[key]
        if reason:
            failures[i] = reason
        elif op["rows"] != n:
            failures[i] = f"timed execution counted {op['rows']} rows, oracle {n}"
    return failures


def _check_copy(op, counts):
    bad = []
    for table, n in counts.items():
        src_dst = op["tables"].get(table)
        if src_dst != [n, n]:
            bad.append(f"{table}: engine reports {src_dst}, generated {n}")
            continue
        files = [f for f in glob.glob(os.path.join(op["dst"], table, "**", "*.parquet"),
                                      recursive=True) if os.path.isfile(f)]
        got = duckdb.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
        if got != n:
            bad.append(f"{table}: destination holds {got} rows, generated {n}")
    if set(op["tables"]) != set(counts):
        bad.append(f"tables {sorted(op['tables'])} != {sorted(counts)}")
    return "; ".join(bad)


def verify(workload, work, res, facts):
    """{index of timed op: reason} for every op whose output is wrong."""
    data = os.path.join(work, "data")
    ops = list(enumerate(res["ops"]))
    if workload == "query_mix":
        return _check_queries(work, ops, data)
    failures = _check_queries(work, [(i, op) for i, op in ops if op["key"] != COPY_KEY],
                              os.path.join(data, "corpus"))
    for i, op in ops:
        if op["key"] == COPY_KEY and not op["error"]:
            reason = _check_copy(op, facts["counts"])
            if reason:
                failures[i] = reason
    return failures
