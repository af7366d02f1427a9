"""Compare the generated analytic tables with a reference set of them.

    python3 perfbench/compare_tables.py REF_DIR [--seed 1]

Generates the tables for ``--seed`` at the reference's scale into a
temporary directory inside ``.perfbench_work/`` and compares both sets
with DuckDB: per table the parquet schema and row count; per column the
distinct count, min, 1/50/99% quantiles, mean and standard deviation
(string columns: distinct count and lengths); plus the shapes the queries depend on
(value histograms of the small domains, repeated order/line keys,
per-user event counts, the document vocabulary, near-duplicate
documents). Prints one line per statistic and exits 1 if any differs
from the reference by more than 5% of the larger value or of the
column's scale (counts of sampled rows: more than three Poisson
standard deviations), or if types differ at all.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench import gen_tables  # noqa: E402

TOL = 0.05

SHAPES = {
    "lineitem repeated (orderkey, linenumber)": "SELECT count(*) FROM (SELECT 1 FROM '{d}/lineitem.parquet'"
    " GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)",
    "lineitem rows per linenumber": "SELECT l_linenumber, count(*) FROM '{d}/lineitem.parquet' GROUP BY 1 ORDER BY 1",
    "lineitem rows per discount": "SELECT l_discount, count(*) FROM '{d}/lineitem.parquet' GROUP BY 1 ORDER BY 1",
    "lineitem rows per tax": "SELECT l_tax, count(*) FROM '{d}/lineitem.parquet' GROUP BY 1 ORDER BY 1",
    "lineitem rows per flag/status": "SELECT l_returnflag, l_linestatus, count(*) FROM '{d}/lineitem.parquet'"
    " GROUP BY ALL ORDER BY ALL",
    "orders per status": "SELECT o_orderstatus, count(*) FROM '{d}/orders.parquet' GROUP BY 1 ORDER BY 1",
    "documents per lang": "SELECT lang, count(*) FROM '{d}/documents.parquet' GROUP BY 1 ORDER BY 1",
    "events per type": "SELECT event_type, count(*) FROM '{d}/events.parquet' GROUP BY 1 ORDER BY 1",
    "events per user (max, min, stddev)": "SELECT max(c), min(c), stddev(c) FROM"
    " (SELECT count(*) c FROM '{d}/events.parquet' GROUP BY user_id)",
    "events out of ts order": "SELECT count(*) FILTER (x) FROM"
    " (SELECT ts < lag(ts) OVER (ORDER BY event_id) x FROM '{d}/events.parquet')",
    "document vocabulary": "SELECT count(DISTINCT w) FROM"
    " (SELECT unnest(string_split(text, ' ')) w FROM '{d}/documents.parquet')",
    "words per document (min, avg, max)": "SELECT min(n), avg(n), max(n) FROM"
    " (SELECT len(string_split(text, ' ')) n FROM '{d}/documents.parquet')",
    "documents ending ' dup', exact duplicate texts": "SELECT count(*) FILTER (text LIKE '% dup'),"
    " count(*) - count(DISTINCT text) FROM '{d}/documents.parquet'",
    "embedding squared norm, length": "SELECT avg(list_dot_product(embedding, embedding)), max(len(embedding))"
    " FROM '{d}/embeddings.parquet'",
}


def _close(a, b, scale: float = 0.0) -> bool:
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y, scale) for x, y in zip(a, b))
    if isinstance(a, int) and isinstance(b, int):
        # counts of sampled rows: allow three standard deviations of a
        # Poisson count (e.g. 702 vs 752 documents in one language)
        return abs(a - b) <= max(TOL * max(a, b), 3 * max(a, b) ** 0.5)
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= TOL * max(abs(a), abs(b), scale)
    return a == b


def column_stats(con, d: str, table: str) -> dict[str, tuple[tuple, float]]:
    """Per column: its statistics and the scale their differences are
    measured against (standard deviation, mean length or time range),
    so a low quantile of 15 vs 14 over keys 0..1499 counts as close. On
    small tables the scale widens to three standard errors of the
    difference of two sample means (1,000 rows: 0.13 standard
    deviations)."""
    n = con.sql(f"SELECT count(*) FROM '{d}/{table}.parquet'").fetchone()[0]
    widen = max(1.0, 3 * (2 / n) ** 0.5 / TOL)
    out = {}
    for name, typ, *_ in con.sql(f"DESCRIBE SELECT * FROM '{d}/{table}.parquet'").fetchall():
        src = f"'{d}/{table}.parquet'"
        if typ == "VARCHAR":
            q = f"SELECT count(DISTINCT {name}), min(length({name})), avg(length({name})), max(length({name})) FROM {src}"
        elif "TIMESTAMP" in typ:
            q = f"SELECT count(DISTINCT {name}), epoch(min({name})), epoch(max({name})), avg(epoch({name})) FROM {src}"
        elif typ.endswith("[]"):
            continue
        else:
            # quantiles rather than the max: a sample's tail moves with the seed
            q = (
                f"SELECT count(DISTINCT {name}), min({name}), quantile_cont({name}, 0.01),"
                f" median({name}), quantile_cont({name}, 0.99), avg({name}), stddev({name}) FROM {src}"
            )
        v = tuple(float(x) for x in con.sql(q).fetchone())
        scale = v[2] if typ == "VARCHAR" else v[2] - v[1] if "TIMESTAMP" in typ else v[-1]
        out[f"{table}.{name} {typ}"] = (v, scale * widen)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ref_dir")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    ref = args.ref_dir
    n_li = pq.ParquetFile(os.path.join(ref, "lineitem.parquet")).metadata.num_rows
    gen = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_work", "compare")
    shutil.rmtree(gen, ignore_errors=True)
    gen_tables.write_tables(gen, n_li / 6_000_000, args.seed)
    con = duckdb.connect()
    bad = 0

    def report(label: str, r, g, scale: float = 0.0) -> None:
        nonlocal bad
        ok = _close(r, g, scale)
        bad += not ok
        print(f"{'ok ' if ok else 'BAD'} {label}: reference {r} generated {g}")

    for f in sorted(os.listdir(ref)):
        t = f.removesuffix(".parquet")
        r_schema = pq.read_schema(os.path.join(ref, f)).remove_metadata()
        g_schema = pq.read_schema(os.path.join(gen, f)).remove_metadata()
        report(f"{t} schema", str(r_schema).replace("\n", "; "), str(g_schema).replace("\n", "; "))
        report(f"{t} rows", pq.ParquetFile(os.path.join(ref, f)).metadata.num_rows,
               pq.ParquetFile(os.path.join(gen, f)).metadata.num_rows)
        r_cols, g_cols = column_stats(con, ref, t), column_stats(con, gen, t)
        for k, (r, scale) in r_cols.items():
            report(k, r, g_cols.get(k, (None,))[0], scale)
    for label, q in SHAPES.items():
        report(label, con.sql(q.format(d=ref)).fetchall(), con.sql(q.format(d=gen)).fetchall())
    shutil.rmtree(gen, ignore_errors=True)
    print(f"{bad} statistics differ by more than {TOL:.0%}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
