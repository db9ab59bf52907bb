"""Regenerate ``sql_counts.json``: the expected row count of every declared
query over the tables in ``perfbench/sqldata/`` (the sf0.01 set the declared
queries were written for).

Counts come from each query's DuckDB twin in ``__spark_entry__.oracle_sql()``.
``zpaq_chunk_stats`` has no DuckDB twin (its chunker is not SQL-expressible),
so its count is pinned from one Spark run of the query itself and marked as
pinned in the file. The file also records each table's row count, which
every benchmark run checks before it starts. Re-run after replacing the
tables:

    python3 perfbench/regen_sql_counts.py

It must run from the repository root (it imports ``__spark_entry__``).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "sqldata")
sys.path.insert(0, os.getcwd())


def table_rows() -> dict[str, int]:
    """Row count of every table in ``sqldata/``, from the Parquet footers."""
    import pyarrow.parquet as pq

    return {
        name[:-len(".parquet")]:
            pq.read_metadata(os.path.join(DATA, name)).num_rows
        for name in sorted(os.listdir(DATA)) if name.endswith(".parquet")
    }


def main() -> None:
    import duckdb

    import __spark_entry__ as entry_mod

    tables = table_rows()
    con = duckdb.connect()
    for table in tables:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{DATA}/{table}.parquet')")
    counts, pinned = {}, []
    for name, sql in entry_mod.oracle_sql().items():
        t0 = time.perf_counter()
        counts[name] = len(con.execute(sql).fetchall())
        print(f"{name}: {counts[name]} rows "
              f"({time.perf_counter() - t0:.3f} s)", flush=True)
    missing = [q for q in entry_mod.queries() if q not in counts]
    if missing:
        from dedup_spark.session import get_spark

        spark = get_spark("perfbench_regen")
        for name in missing:
            counts[name] = entry_mod.queries()[name](spark, DATA).count()
            pinned.append(name)
            print(f"{name}: {counts[name]} rows (pinned, no oracle)")
        spark.stop()
    out = {"tables": tables, "pinned_without_oracle": pinned,
           "counts": counts}
    with open(os.path.join(HERE, "sql_counts.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
