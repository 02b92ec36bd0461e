#!/usr/bin/env python
"""Mirror the next driver CORRECTNESS window locally: run the first 50
entries of ``load_registry()`` (the window the driver checks next)
through the driver-equivalent comparator (Spark result vs DuckDB
oracle, `_normalize` canonical form — row count + schema +
order-insensitive values) at a chosen SF and print the green /
rows-only / red split.

This is the strongest per-round gate reproduced outside the driver:
"identical to pre-validation" after a change batch is the
behavior-preservation proof SURVEY records (r12-continuation re-ran it
for BOTH windows after every manifest-path change).

Run from the repo root (worker pandas UDFs import the package):

    python scripts/mirror_window.py [SF_DIR]        # default: sf0.01 testdata

Exit code 1 if any row is RED/ERR.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from cognitive_score_bigdata_spark import queries as q  # noqa: E402
from cognitive_score_bigdata_spark.io import TESTDATA_TABLES  # noqa: E402
from cognitive_score_bigdata_spark.session import get_spark  # noqa: E402
from tests.conftest import _normalize  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    reg = q.load_registry()
    window = list(reg)[:50]
    spark = get_spark("mirror-window", master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    green = rows_only = red = 0
    for name in window:
        spec = reg[name]
        try:
            sp = _normalize(spec.fn(spark, sf_dir).toPandas())
            if spec.oracle is None:
                print(f"ROWS-ONLY {name}: {len(sp)} rows")
                rows_only += 1
                continue
            oc = _normalize(con.execute(spec.oracle).df())
            if sp.shape == oc.shape and sp.equals(oc):
                green += 1
            else:
                print(f"RED {name}: spark {sp.shape} oracle {oc.shape}")
                red += 1
        except Exception as e:  # noqa: BLE001 — report and count, keep going
            print(f"ERR {name}: {type(e).__name__}: {e}")
            red += 1
    print(f"DONE green={green} rows_only={rows_only} red={red}")
    return 1 if red else 0


if __name__ == "__main__":
    raise SystemExit(main())
