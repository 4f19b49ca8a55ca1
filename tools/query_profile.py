"""Per-query build/collect profiler with a plan dump.

For each named registry query (default: a fixed list of the slowest
entries), measures
- build_s: time for fn(spark, sf_dir) to RETURN the DataFrame — this is
  where eager materializations (parquet index writes, kmeans loops,
  streaming drains, compact lifecycles) spend their time;
- collect_s: time for .collect() on the returned frame — the declared
  result plan's execution;
min-of-REPS each, and writes .explain("formatted") to OUT_DIR/<name>_<tag>.txt.

Usage: python tools/query_profile.py OUT_DIR [--tag before] [--reps 2] [names...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one JSON line with the phase map.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_NAMES = [
    "compact_roundtrip",
    "ann_ivf_kmeans_topk",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "dedup_embedding_cosine_lsh_sized",
    "streaming_stateful_sessions",
    "streaming_click_attribution",
    "ann_ivf_quantized_topk",
    "ann_ivf_topk",
    "dedup_clusters",
    "bucketed_join",
    "semantic_dedup",
    "distinct_counts",
    "ann_topk_cosine",
    "repetition_signals",
]


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir, args = sys.argv[1], sys.argv[2:]
    tag = "before"
    reps = 2
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    names = args or DEFAULT_NAMES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry_mod
    from polario_spark import get_spark
    from polario_spark.plans import release_cached_residue

    queries = entry_mod.queries()
    spark = get_spark("query_profile")
    # same warm-up as bench.py so numbers are comparable
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        spark.range(64).mapInPandas(lambda it: it, schema="id long").collect()
    except Exception:
        pass
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 3 + 1)", "avg(id % 7)").collect()
    calib = round(time.perf_counter() - t0, 3)

    out: dict[str, dict] = {"_calib_sec": calib}
    for name in names:
        fn = queries[name]
        builds, collects = [], []
        plan_txt = None
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            b0 = time.perf_counter()
            df = fn(spark, sf_dir)
            builds.append(round(time.perf_counter() - b0, 3))
            c0 = time.perf_counter()
            df.collect()
            collects.append(round(time.perf_counter() - c0, 3))
            if plan_txt is None:
                plan_txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            release_cached_residue(spark)
            spark.sparkContext.setJobDescription(None)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan_txt or "")
        out[name] = {
            "build_s": min(builds),
            "collect_s": min(collects),
            "total_s": round(min(b + c for b, c in zip(builds, collects)), 3),
            "builds": builds,
            "collects": collects,
        }
        print(
            f"{name}: build {min(builds)} collect {min(collects)}",
            file=sys.stderr,
        )
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
