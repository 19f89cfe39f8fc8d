"""DuckDB oracle check of the query deck's warm-up results.

Each query's parquet result is compared with its SparkEntry.oracleSql run
in DuckDB over the same generated tables: same column names, same row
count, and - after sorting rows on every column - equal cells, floats
included (the rule of the repository's oracle checker: the queries round
floats to the data's decimal grid in both engines).
"""
import json
import math
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(got, exp):
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"columns differ: spark={gcols} duckdb={ecols}"
    if len(got) != len(exp):
        return f"row count: spark={len(got)} duckdb={len(exp)}"
    g = got[gcols].sort_values(gcols, ignore_index=True)
    e = exp[ecols].sort_values(ecols, ignore_index=True)
    for c in gcols:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if (math.isnan(a) and math.isnan(b)) or a == b:
                    continue
                return f"float mismatch col={c} row={i}: spark={a!r} duckdb={b!r}"
            if str(a) != str(b):
                return f"mismatch col={c} row={i}: spark={a!r} duckdb={b!r}"
    return None


def check(deck_dir, tables_dir, queries):
    """{query: problem} for every query whose result is missing or wrong."""
    deck = Path(deck_dir)
    oracle = json.loads((deck / "oracle_sql.json").read_text())
    broken = json.loads((deck / "broken.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    problems = {}
    for q in queries:
        if q in broken:
            problems[q] = f"threw: {broken[q]}"
        elif q not in oracle:
            problems[q] = "no oracle SQL"
        else:
            try:
                got = con.sql(f"SELECT * FROM '{deck}/{q}/*.parquet'").df()
                exp = con.sql(oracle[q]).df()
                msg = compare(got, exp)
            except Exception as e:  # an oracle error is a failed check too
                msg = f"oracle error: {e}"
            if msg:
                problems[q] = msg
    con.close()
    return problems
