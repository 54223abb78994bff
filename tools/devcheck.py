"""Fast oracle-parity iteration: python tools/devcheck.py [slug ...] [--sf=DIR]

Runs the given slugs (default: all) against the DuckDB oracle in one
Spark session, printing OK/MISMATCH per slug — the same comparison the
driver gate applies (tests/parity.py), without pytest overhead.

Slugs tagged ``warehouse`` serve from a persisted store, so each runs
twice: cold (the call that may build the store), then warm (served from
it). The warm run is checked against the oracle too; a rows-only slug
must return the same row count both times.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.001"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]

    import duckdb

    from magictables_spark.plans.catalog import TABLES
    from magictables_spark.plans.queries import REGISTRY
    from magictables_spark.session import get_spark
    from tests.parity import compare

    spark = get_spark("devcheck")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )

    slugs = args or sorted(REGISTRY)
    n_runs = n_fail = 0
    for slug in slugs:
        spec = REGISTRY[slug]
        runs = ("cold", "warm") if "warehouse" in spec.tags else ("",)
        cold_rows = None
        for run in runs:
            label = f"{slug} ({run})" if run else slug
            t0 = time.perf_counter()
            try:
                sdf = spec.fn(spark, sf_dir)
                if spec.oracle is None:
                    n = sdf.count()
                    ok = cold_rows in (None, n)
                    msg = f"{n} rows" if ok else f"warm {n} rows != cold {cold_rows}"
                    cold_rows = n
                else:
                    ok, msg = compare(sdf, con.sql(spec.oracle))
            except Exception as e:  # noqa: BLE001
                ok, msg = False, f"{type(e).__name__}: {str(e)[:400]}"
            n_runs += 1
            if ok:
                status = "OK" if spec.oracle is not None else "ROWS-ONLY"
            else:
                status = "MISMATCH"
                n_fail += 1
            print(f"{status} {label}: {msg[:500]}  [{time.perf_counter()-t0:.1f}s]")
    print(f"\n{n_runs-n_fail}/{n_runs} ok")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
