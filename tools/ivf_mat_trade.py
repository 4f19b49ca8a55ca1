"""Measure the IVF materialization trade (round-11, verdict item 4).

Round 10 made the three IVF-family entries write their GEMM cell
assignment to a stable parquet path and READ IT BACK before searching,
so the DuckDB oracle verifies the same bytes (near-tie BLAS reductions
can never split the engines). At sf0.1 that write+re-read roundtrip
doubled the entries' bench times, and the verdict asked for the trade to
be a measured sentence, not an inference: does the GEMM saving outrun
the write cost where it matters (x30+), and what exactly does the
roundtrip cost at each scale?

This probe times, in one fresh session per corpus, min-of-2 each:

  a. `materialized` — the registry plan: the index builder
     (queries._ivf_index: assign_cells -> write parquet -> read back)
     -> ivf_topk (what bench.py measures);
  b. `inflight`     — identical search consuming the in-flight
     assignment frame (localCheckpoint severs lineage the same way the
     re-read does, but nothing hits disk);

on sf0.1 and the x30 probe corpus (run `tools/scale_probe.py gen 30`
first). The difference IS the materialization cost; its RATIO to total
answers the verdict's question. Writes an artifact suitable for
committing (tools/../IVF_MAT_TRADE is merged into SCALE.md by hand).

Usage: python tools/ivf_mat_trade.py [out.json]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORPORA = {
    "sf0.1": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    "x30": "/tmp/scale_probe/x30",
}


def _child() -> None:
    corpus_dir, out_path = os.environ["IVF_MAT_TRADE_CHILD"].split("|")

    from pyspark.sql import functions as F

    from polario_spark import get_spark
    from polario_spark.operators import similarity
    from polario_spark.queries import _footer_rows, _ivf_index, _t

    spark = get_spark("ivf_mat_trade")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        spark.range(64).mapInPandas(lambda it: it, schema="id long").collect()
    except Exception:
        pass

    def load():
        return similarity.well_formed_vectors(
            _t(spark, corpus_dir, "embeddings"), "embedding", 64
        )

    def run_materialized() -> int:
        emb = load()
        # the index path is keyed by the PROBE corpus, never the gate's
        assigned = _ivf_index(emb, corpus_dir, "ivf_stride", probes=False).assigned
        return similarity.ivf_topk(
            emb, "vec_id", "embedding", 5, assigned=assigned
        ).count()

    def run_inflight() -> int:
        emb = load()
        cent_np = similarity.collect_stride_centroids(
            emb, n_hint=_footer_rows(corpus_dir, "embeddings")
        )
        assigned = similarity.assign_cells(emb, cent_np=cent_np).select(
            "nid", "__v", "cell"
        )
        # localCheckpoint = the same lineage sever the re-read provides,
        # minus the disk roundtrip: the closest apples-to-apples twin
        assigned = assigned.localCheckpoint(eager=True).withColumn(
            "__nv",
            F.expr(similarity.VEC.norm_clamped("__v", "spark")),
        ).select("nid", "__v", "__nv", "cell")
        return similarity.ivf_topk(
            emb, "vec_id", "embedding", 5, assigned=assigned
        ).count()

    res: dict[str, dict] = {}
    for label, fn in [("materialized", run_materialized), ("inflight", run_inflight)]:
        runs, rows = [], None
        for _ in range(2):
            t0 = time.perf_counter()
            rows = fn()
            runs.append(round(time.perf_counter() - t0, 3))
        res[label] = {"min_sec": min(runs), "runs": runs, "rows": rows}
    assert res["materialized"]["rows"] == res["inflight"]["rows"], res
    json.dump(res, open(out_path, "w"))
    spark.stop()


def main() -> int:
    if "IVF_MAT_TRADE_CHILD" in os.environ:
        _child()
        return 0
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/ivf_mat_trade.json"
    results: dict[str, dict] = {}
    for label, corpus in CORPORA.items():
        if not os.path.exists(corpus):
            print(f"skip {label}: {corpus} missing", file=sys.stderr)
            continue
        child_out = f"/tmp/ivf_mat_trade_{label}.json"
        env = dict(os.environ)
        env["IVF_MAT_TRADE_CHILD"] = f"{corpus}|{child_out}"
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            cwd=REPO,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        if proc.returncode != 0:
            print(
                f"{label} child failed: "
                f"{(proc.stderr or b'')[-2000:].decode(errors='replace')}",
                file=sys.stderr,
            )
            continue
        r = json.load(open(child_out))
        m, i = r["materialized"]["min_sec"], r["inflight"]["min_sec"]
        r["roundtrip_cost_sec"] = round(m - i, 3)
        r["roundtrip_share"] = round((m - i) / m, 3) if m > 0 else None
        results[label] = r
        print(f"{label}: materialized {m}s vs inflight {i}s "
              f"(roundtrip {r['roundtrip_cost_sec']}s, "
              f"{r['roundtrip_share']:.0%} of total)")
    json.dump(results, open(out, "w"), indent=1)
    print(f"-> {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
