"""Focused per-query measurement harness for the optimization rounds.

NOT the driver bench (bench.py is frozen for measurement). This tool:
  * times individual declared queries with the noop sink (guide §1.4) so
    the computation is isolated from any output write,
  * labels each job (guide §1.5) so the Spark UI is readable,
  * captures .explain("formatted") per query into plans/<tag>/<name>.txt,
  * prints a JSON line per query so runs are easy to diff.

Usage:
  python bench_extra.py [--sf DIR] [--queries a,b,c] [--reps N]
                        [--plans-dir plans/r07] [--plan-suffix _before]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--cpus", type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or os.cpu_count(),
    )
    ap.add_argument("--plans-dir", default="")
    ap.add_argument("--plan-suffix", default="")
    ap.add_argument("--full-whittaker", action="store_true",
                    help="time whittaker_gapfill on the FULL corpus like bench.py does")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from fusets_spark.session import get_spark, ship_package

    spark = get_spark(
        "fusets-bench-extra", cores=args.cpus,
        shuffle_partitions=max(2 * args.cpus, 16),
    )
    ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    qs = dict(entry_mod.queries())
    if args.full_whittaker:
        from pyspark.sql import functions as F

        from fusets_spark.operators.whittaker import whittaker_gapfill

        def _full_whittaker(sp, sf_dir):
            ev = sp.read.parquet(f"{sf_dir}/events.parquet")
            pts = ev.select(
                F.col("event_type").alias("source"),
                F.col("user_id").cast("string").alias("doc_id"),
                "ts",
                "value",
            )
            return whittaker_gapfill(pts, lmbd=100.0, grid_seconds=3600)

        qs["whittaker_gapfill"] = _full_whittaker

    names = [n for n in args.queries.split(",") if n] or list(qs)
    out: dict[str, dict] = {}
    for name in names:
        if name not in qs:
            print(f"skip unknown query {name}", file=sys.stderr)
            continue
        samples = []
        for rep in range(args.reps):
            # time build + execute like bench.py: dedup_components runs
            # iterative actions during query construction
            t_build0 = time.monotonic()
            df = qs[name](spark, args.sf)
            build_s = time.monotonic() - t_build0
            if rep == 0 and args.plans_dir:
                os.makedirs(args.plans_dir, exist_ok=True)
                with open(
                    os.path.join(args.plans_dir, f"{name}{args.plan_suffix}.txt"), "w"
                ) as f:
                    f.write(df._jdf.queryExecution().explainString(
                        df.sparkSession._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted")))
            spark.sparkContext.setJobDescription(f"bench_extra: {name} rep{rep}")
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.monotonic() - t0 + build_s, 3))
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
        out[name] = {"best": min(samples), "samples": samples}
        print(json.dumps({"query": name, **out[name]}), flush=True)
    print(json.dumps({"sf": args.sf, "best": {k: v["best"] for k, v in out.items()}}))


if __name__ == "__main__":
    main()
