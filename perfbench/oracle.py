"""The DuckDB side of the benchmark's correctness check, run as its own
process so that DuckDB's memory never counts toward the benchmark
process's peak RSS.

    python3 perfbench/oracle.py <checks.json>

``checks.json`` names the kind of catalog (``registry``: one fixture
directory; ``pig``: the two "clusters" of the Pig workload), its
directories, and one check per query: the DuckDB twin's SQL and what
Spark produced, either a pickled pandas frame (``.pkl``) or a directory
of parquet files a STORE wrote.  It prints one JSON object mapping each
query to ``null`` (match) or a description of the mismatch.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: orders as the Pig workload stores it: a headerless PigStorage file
ORDERS_DUCK_COLUMNS = (
    "{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', 'o_orderstatus': 'VARCHAR', "
    "'o_totalprice': 'DOUBLE', 'o_orderdate': 'DATE', 'o_orderpriority': 'VARCHAR'}"
)


def round_doubles(pdf):
    """Doubles to 8 significant digits: summation order differs between
    engines in the last bits, which a fixed number of decimal places
    cannot absorb at 1e9 magnitudes."""
    import pandas as pd

    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].map(lambda x: float(f"{x:.8g}") if pd.notna(x) else x)
    return out


def connect(kind: str, dirs: list[str]):
    import duckdb

    if kind == "registry":
        from bench import _duckdb_con

        return _duckdb_con(dirs[0])
    c1, c2 = dirs
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{c1}/lineitem.parquet')")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{c2}/documents.parquet')")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_csv("
                f"'{c2}/orders.tsv', delim = '\t', header = false, "
                f"columns = {ORDERS_DUCK_COLUMNS})")
    return con


def check(spec: dict) -> dict[str, str | None]:
    import pandas as pd

    from tools.selfcheck import value_hash

    con = connect(spec["kind"], spec["dirs"])
    out = {}
    for c in spec["checks"]:
        if c["got"].endswith(".pkl"):
            got = pd.read_pickle(c["got"])
        else:
            got = con.execute(f"SELECT * FROM read_parquet('{c['got']}/*.parquet')").df()
        want = con.execute(c["sql"]).df()
        if spec["kind"] == "pig":
            got, want = round_doubles(got), round_doubles(want)
        out[c["name"]] = (
            None if len(got) == len(want) and value_hash(got) == value_hash(want)
            else f"{len(got)} rows vs {len(want)} in the DuckDB twin"
        )
    con.close()
    return out


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    print(json.dumps(check(json.loads(Path(sys.argv[1]).read_text()))))
