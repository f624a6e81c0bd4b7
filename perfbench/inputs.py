"""Seeded input generation for the benchmark.

The base is the sf0.001 fixture kept in ``perfbench/base``.  The repo's
own ``tools/make_scale.py`` replicates it ``factor`` times (key domains
shifted per replica, so joins and per-key cardinalities stay intact);
this module then rewrites every table in a row order drawn from the seed.
The same seed gives byte-identical inputs; another seed gives the same
multiset of rows in another order, which moves rows between parquet row
groups, Spark partitions and ties.

It runs as its own process, so that DuckDB's memory never counts toward
the benchmark process's peak RSS:

    python3 perfbench/inputs.py <work_dir> <factor> <seed> [--clusters]

prints the data directory, or with ``--clusters`` the two cluster
directories, one per line.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

BASE = Path(__file__).resolve().parent / "base"
TABLES = tuple(sorted(p.stem for p in BASE.glob("*.parquet")))


def _reorder(con, src: Path, dst: Path, seed: int) -> None:
    dst.mkdir(parents=True, exist_ok=True)
    for t in TABLES:
        con.execute(
            f"COPY (SELECT * EXCLUDE (file_row_number) FROM "
            f"read_parquet('{src}/{t}.parquet', file_row_number = true) "
            f"ORDER BY hash(file_row_number, {int(seed)})) "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )


def generate(work: Path, factor: int, seed: int) -> Path:
    """Write the ``factor``-times replicated, seed-ordered fixture to
    ``work/data`` and return that directory."""
    repo = BASE.parent.parent
    scaled = work / "scaled"
    data = work / "data"
    for d in (scaled, data):
        shutil.rmtree(d, ignore_errors=True)
    subprocess.run(
        [sys.executable, str(repo / "tools" / "make_scale.py"), str(BASE),
         str(scaled), str(factor)],
        check=True,
        stdout=subprocess.DEVNULL,
    )
    con = duckdb.connect()
    try:
        _reorder(con, scaled, data, seed)
    finally:
        con.close()
    shutil.rmtree(scaled)
    return data


def split_clusters(data: Path) -> tuple[Path, Path]:
    """Lay ``data`` out as two "clusters" for the Pig catalog: cluster 2
    holds documents (parquet) and orders as a PigStorage file; cluster 1
    keeps everything else."""
    c1, c2 = data.parent / "cluster1", data.parent / "cluster2"
    for d in (c1, c2):
        shutil.rmtree(d, ignore_errors=True)
    data.rename(c1)
    c2.mkdir()
    (c1 / "documents.parquet").rename(c2 / "documents.parquet")
    con = duckdb.connect()
    try:
        con.execute(
            f"COPY (SELECT * REPLACE (CAST(o_orderdate AS DATE) AS o_orderdate) "
            f"FROM read_parquet('{c1}/orders.parquet')) TO '{c2}/orders.tsv' "
            "(FORMAT CSV, DELIMITER '\t', HEADER false)"
        )
    finally:
        con.close()
    (c1 / "orders.parquet").unlink()
    return c1, c2


if __name__ == "__main__":
    work, factor, seed = Path(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
    data = generate(work, factor, seed)
    print("\n".join(map(str, split_clusters(data) if "--clusters" in sys.argv else (data,))))
