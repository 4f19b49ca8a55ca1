"""Per-entry Spark JOB census: how many jobs does each registry entry run?

A diagnostic for the per-entry overhead floor: with ~0.1 s of fixed cost
per job (plan build + AQE stage scheduling + commit), an entry that runs
more jobs than its design needs is paying pure overhead. This census runs
every entry once under a per-entry job group and reports the job count
and stage count, so anomalies (an entry whose declared shape is "write +
collect" but which runs 6 jobs) stand out. Jobs an entry launches from
overlapped writer threads are counted too: ``run_overlapped`` carries
the caller's job group into its threads.

Usage: python tools/job_census.py OUT.json [names...]   (default: full registry)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
Writes OUT.json and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    import __spark_entry__ as entry_mod
    from polario_spark import get_spark
    from polario_spark.plans import release_cached_residue

    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_path, only = sys.argv[1], set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("job_census")
    sc = spark.sparkContext
    qs = entry_mod.queries()
    out: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        group = f"census_{name}"
        sc.setJobGroup(group, name)
        try:
            df = fn(spark, sf_dir)
            df.collect()
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": str(exc)[:120]}
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            release_cached_residue(spark)
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        n_stages = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                n_stages += len(info.stageIds)
        out[name] = {"jobs": len(job_ids), "stages": n_stages}
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    rows = sorted(
        ((v.get("jobs", -1), v.get("stages", -1), k) for k, v in out.items()),
        reverse=True,
    )
    for jobs, stages, name in rows:
        err = out[name].get("error")
        if err:
            print(f"{name}: ERROR {err}")
        else:
            print(f"{jobs:4d} jobs {stages:4d} stages  {name}")


if __name__ == "__main__":
    main()
