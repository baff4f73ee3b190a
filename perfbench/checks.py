"""Output check of the gate-driven ops: each gate's result, dumped once per
run by the JVM, is compared with its `SparkEntry.oracleSql` query run by
DuckDB over the same generated tables (columns sorted by name, rows
sorted, values compared exactly)."""

import json
import math
import os

TABLES = ["events"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def _equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare(spark_df, duck_df):
    """None when the two frames hold the same rows, else the first problem."""
    a, b = _canon(spark_df), _canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        bad = [i for i in range(len(av)) if not _equal(av[i], bv[i])]
        if bad:
            return f"column {c}: {len(bad)} mismatches, first {av[bad[0]]!r} vs {bv[bad[0]]!r}"
    return None


def check_gates(check_dir, data_dir):
    """Return [(gate, problem)] for every gate whose result differs from its
    oracle or from the row count its ops saw."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(check_dir, "counts.json")) as f:
        counts = json.load(f)
    failures = []
    for gate, sql in sorted(oracles.items()):
        got = pq.read_table(os.path.join(check_dir, gate)).to_pandas()
        if len(got) != counts[gate]:
            failures.append((gate, f"dumped {len(got)} rows, ops counted {counts[gate]}"))
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append((gate, f"oracle error {e}"))
            continue
        problem = compare(got, want)
        if problem:
            failures.append((gate, problem))
    con.close()
    return failures
