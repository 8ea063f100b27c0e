"""DuckDB oracle for the benchmark's checksums.

Reads one JSON request on stdin:
    {"tables": {"name": "<parquet dir>"}, "queries": {"name": "<SQL>"}}
creates a view per table over the directory's Parquet files, runs each
query and prints {"name": [values of its single result row]} as JSON.
"""
import json
import sys

import duckdb


def main() -> int:
    req = json.load(sys.stdin)
    con = duckdb.connect()
    for name, path in req["tables"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    out = {}
    for name, sql in req["queries"].items():
        rows = con.execute(sql).fetchall()
        if len(rows) != 1:
            print(f"oracle: {name} returned {len(rows)} rows, expected 1", file=sys.stderr)
            return 1
        out[name] = [v if v is None or isinstance(v, (int, float, str)) else str(v)
                     for v in rows[0]]
    json.dump(out, sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
