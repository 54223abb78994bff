"""Driver-canonicalization smoke: python tools/driver_canon_smoke.py [slug ...] [--sf=DIR]

The per-round driver canonicalizes every sampled query result with
pandas ``toPandas().sort_values(by=<all columns>)`` before hashing.
That step CRASHES on list cells (``TypeError: unhashable type: 'list'``
— CORRECTNESS_r08 ``vector_quantize_pq``) and hash-diverges on Decimal
cells, failure modes the oracle comparison in tests/parity.py used to
mask locally.  This tool replays exactly that step for every registered
slug (oracled AND rows-only) so a green run proves the whole registry
is driver-canonicalizable:

  1. schema gate — every output column type is in
     ``tests.parity.DRIVER_SAFE_TYPENAMES``;
  2. sort smoke — ``toPandas().sort_values(by=sorted(columns))``
     completes without raising (the driver's crash mode, verbatim).

Exit 0 iff all slugs pass both.
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

    from magictables_spark.plans.queries import REGISTRY
    from magictables_spark.session import get_spark
    from tests.parity import driver_unsafe_columns

    spark = get_spark("driver_canon_smoke")
    spark.sparkContext.setLogLevel("ERROR")

    slugs = args or sorted(REGISTRY)
    n_fail = 0
    for slug in slugs:
        t0 = time.perf_counter()
        try:
            sdf = REGISTRY[slug].fn(spark, sf_dir)
            bad = driver_unsafe_columns(sdf)
            if bad:
                raise TypeError(f"driver-unsafe column types: {bad}")
            pdf = sdf.toPandas()
            pdf.sort_values(by=sorted(pdf.columns))  # the driver's exact step
            msg, ok = f"{len(pdf)} rows", True
        except Exception as e:  # noqa: BLE001
            msg, ok = f"{type(e).__name__}: {str(e)[:300]}", False
        if not ok:
            n_fail += 1
        print(
            f"{'OK' if ok else 'FAIL'} {slug}: {msg}"
            f"  [{time.perf_counter() - t0:.1f}s]"
        )
    print(f"\n{len(slugs) - n_fail}/{len(slugs)} driver-canonicalizable")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
