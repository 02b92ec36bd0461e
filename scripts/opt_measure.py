#!/usr/bin/env python
"""Isolated per-query measurement for the optimization rounds.

Times named registry queries through bench.py's ``materialize`` (the
noop sink, imported from ``bench``) in one warm session, mirroring
bench.py methodology (System.gc() before each timed run, artifact
warm-up first so timed rows measure probes, not builds). Optionally
dumps .explain("formatted") to plans/<tag>/.

    python scripts/opt_measure.py [--sf DIR] [--reps N] [--explain TAG]
        query1 query2 ...

Prints one line per query: median + all rep times.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize  # noqa: E402
from cognitive_score_bigdata_spark.queries import load_registry  # noqa: E402
from cognitive_score_bigdata_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--explain",
        default=None,
        help="dump explain('formatted') to plans/<TAG>/<query>.txt",
    )
    ap.add_argument(
        "--no-warm", action="store_true", help="skip the artifact warm pass"
    )
    args = ap.parse_args()

    registry = load_registry()
    spark = get_spark("opt-measure")
    spark.sparkContext.setLogLevel("ERROR")

    # Session warm-up: JIT + Arrow worker pool, like bench.py.
    materialize(registry["flagship_stats"].fn(spark, args.sf))
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()

    for name in args.names:
        spec = registry.get(name)
        if spec is None:
            print(f"{name}: NOT REGISTERED", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"opt: {name}")
        if args.explain:
            out_dir = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "plans",
                args.explain,
            )
            os.makedirs(out_dir, exist_ok=True)
            df = spec.fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        if args.reps > 0 and not args.no_warm:
            materialize(spec.fn(spark, args.sf))  # artifact/JIT warm pass
        times = []
        for _ in range(args.reps):
            spark._jvm.System.gc()  # noqa: SLF001
            t0 = time.perf_counter()
            materialize(spec.fn(spark, args.sf))
            times.append(round(time.perf_counter() - t0, 3))
        if times:
            med = statistics.median(times)
            print(f"{name}: median={med:.3f} reps={times}", flush=True)
        else:
            print(f"{name}: plan captured", flush=True)
        spark.sparkContext.setJobDescription(None)

    spark.stop()


if __name__ == "__main__":
    main()
