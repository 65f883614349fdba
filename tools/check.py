"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at a scale factor and compares with the
DuckDB oracle: row count, schema (column names, sorted), and an
order-insensitive value hash (columns sorted by name, rows sorted,
values normalized). Exit code 1 if anything mismatches.

DRIVER-FAITHFUL COMPARATOR (SURVEY.md §8 G13): the driver fetches the
DuckDB side via pandas (``.df()``), which coerces DECIMAL → float64 and
HUGEINT (integer SUM / ``//``) → float64, and it does NOT fold
integer-valued floats back to ints. So this gate does the same: the
oracle is fetched via ``.df()``, Decimals are stringified with trailing
zeros intact, and floats never compare equal to ints. A query whose
final schema contains DECIMAL, HUGEINT, or a nullable numeric will fail
here exactly as it fails in the driver. Round 1 shipped a lenient
normalizer that hid 9 driver failures — do not loosen this again.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from decimal import Decimal

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod
from pg_archiver_spark.catalog import TABLES
from pg_archiver_spark.session import get_spark


def _norm(v):
    """Normalize a cell the way the driver's pandas-based comparator
    sees it: type-faithful, no cross-type folding."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        # Trailing zeros intact: Decimal('147.30') must NOT equal 147.3.
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, int):
        return str(v)
    return str(v)


def _oracle_rows_pandas(res):
    """Fetch a DuckDB result the way the driver does: through pandas.

    ``.df()`` applies the dtype coercions the driver sees (DECIMAL and
    HUGEINT → float64, nullable ints → float64, NULL → NaN/NaT/None).
    """
    import numpy as np
    import pandas as pd

    pdf = res.df()
    rows = []
    for tup in pdf.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is pd.NaT:
                row.append(None)
            elif isinstance(v, np.generic):
                row.append(v.item())
            elif isinstance(v, pd.Timestamp):
                row.append(v.to_pydatetime())
            else:
                row.append(v)
        rows.append(tuple(row))
    return list(pdf.columns), rows


def _risk_audit(name: str, scols, srows, orows) -> list[str]:
    """Flag schema shapes that diverge under the driver's pandas fetch."""
    warns = []
    for rows, side in ((srows, "spark"), (orows, "oracle")):
        for r in rows[:100]:
            for i, v in enumerate(r):
                if isinstance(v, Decimal):
                    col = scols[i] if i < len(scols) else f"#{i}"
                    warns.append(f"{side} col {col}: DECIMAL in final schema")
                    break
            else:
                continue
            break
    return sorted(set(warns))


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, tuple, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = tuple(cols[i] for i in order)
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]
    return len(rows), names, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = only or list(queries)

    failures = []
    for name in names:
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            srows = [tuple(r) for r in df.collect()]
            scols = df.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            status = "ok(rows-only)" if len(srows) >= 0 else "FAIL"
            print(f"{status:>14} {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols, orows = _oracle_rows_pandas(res)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        sn, sschema, shash = frame_fingerprint(scols, srows)
        on, oschema, ohash = frame_fingerprint(ocols, orows)
        for w in _risk_audit(name, scols, srows, orows):
            print(f"  WARN {name}: {w}")
        if (sn, sschema, shash) == (on, oschema, ohash):
            print(f"{'ok':>14} {name}: rows={sn} hash={shash} [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)
            print(f"FAIL {name}:")
            print(f"  spark : rows={sn} schema={sschema} hash={shash}")
            print(f"  duckdb: rows={on} schema={oschema} hash={ohash}")
            if sschema == oschema and sn == on:
                s_set = set("\x1f".join(map(_norm, r)) for r in srows)
                o_set = set("\x1f".join(map(_norm, r)) for r in orows)
                for d in list(s_set - o_set)[:3]:
                    print(f"  spark-only : {d!r}")
                for d in list(o_set - s_set)[:3]:
                    print(f"  duckdb-only: {d!r}")

    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if failures:
        print("failed:", ", ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
