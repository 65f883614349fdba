"""Full-registry off-fixture probe: run EVERY registered operator's
Spark query and DuckDB oracle on a random corpus from
tools/randfixtures.py and report PASS / MISMATCH / ERROR per op
through the driver-faithful comparator.

This is the round-11 verification layer that found the five
fixture-guarded defects listed in randfixtures.py. Not part of the
pytest suite (it is a ~10-minute full-registry pass); run it per-round
after adding operators:

    python tools/randfixtures.py-seeded dirs are cheap: e.g.
    python -c "import sys; sys.path.insert(0,'tools'); \
               import randfixtures; randfixtures.gen(21, '/tmp/rs')"
    python tools/randsweep.py /tmp/rs 0 376 /tmp/rs_results.txt

Known expected non-passes on arbitrary random data:
- ml_pca_project: tot_var_band_ok is a FIXTURE-ENVELOPE pin (mean
  total variance in [0.5, 1.5]); unscaled random vectors are
  legitimately out of envelope and the Spark-side boolean correctly
  reports False while the oracle pins True. Scale vectors to unit
  total variance to include it.
- Sign-edge sketches (sim_ann_lsh hyperplane signs, hamming binary
  quantization) can land within an ulp of a boundary on arbitrary
  vectors; their fixture-margin tripwire tests own that risk.

Sweep envelope (r11 reconnaissance): realistic-scale corpora from
randfixtures.gen() are the supported input. DEGENERATE corpora (1-2
rows per table) additionally break ~30 ops whose contracts need more
data — loud guards firing BY DESIGN (the pinned Markov state-set
raise, trained-index ops needing >= K vectors for Lloyd), and
statistical ops whose quantities are undefined at n=1 per TABLE
(variance/correlation/funnel-denominator NULLs). Realistic corpora
with singleton GROUPS (empty nations, one-order customers) all pass —
the per-group n=1 paths are covered; only whole-table degeneracy is
out of contract, and the driver never ships it.
"""
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import duckdb

import check as ck
from pg_archiver_spark.catalog import TABLES
from pg_archiver_spark.registry import ORACLES, QUERIES, load_all_operators

load_all_operators()


def main() -> int:
    from pg_archiver_spark.session import get_spark

    d = sys.argv[1]
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    end = int(sys.argv[3]) if len(sys.argv) > 3 else len(QUERIES)
    outpath = sys.argv[4] if len(sys.argv) > 4 else "/dev/stdout"
    spark = get_spark("randsweep")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    out = open(outpath, "a")
    bad = 0
    for name in list(QUERIES)[start:end]:
        t0 = time.time()
        try:
            df = QUERIES[name](spark, d)
            srows = [tuple(r) for r in df.collect()]
            if name not in ORACLES:
                print(f"rowsonly {name}", file=out, flush=True)
                continue
            ocols, orows = ck._oracle_rows_pandas(con.execute(ORACLES[name]))
            ok = ck.frame_fingerprint(df.columns, srows) == ck.frame_fingerprint(
                ocols, orows
            )
            bad += 0 if ok else 1
            print(
                f"{'PASS' if ok else 'MISMATCH'} {name} "
                f"{len(srows)}/{len(orows)} [{time.time() - t0:.1f}s]",
                file=out,
                flush=True,
            )
        except Exception as e:  # noqa: BLE001
            bad += 1
            print(
                f"ERROR {name} {type(e).__name__}: {str(e)[:150]}",
                file=out,
                flush=True,
            )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
