"""registry: a fixed set of registry entries from
``__spark_entry__.queries()`` over the seeded corpus.

One pass runs every entry of the workload once, in an order the seed
sets. Each entry's result is collected, persisted into a results
``HiveDataset`` partitioned by entry name, read back, and the read-back
rows are compared with the entry's DuckDB oracle (the registry's own
oracle gate: ``tools.check_oracles`` normalisation and type map).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as spark_entry
from polario_spark import HiveDataset
from polario_spark import queries as Q
from polario_spark.plans import release_cached_residue
from polario_spark.sources.tables import TABLES
from polario_spark.workdir import rebind_stable_paths
from tools.check_oracles import _type_map, normalize

from perfbench import corpus
from perfbench.results import Recorder
from perfbench.storage import Restorable, new_bytes, parquet_files, storage_metrics
from perfbench.trace import Tracer

#: entry -> family; the family names the ``queries.<family>`` layer metrics.
#: One entry per family: the first four are dominated by the fixed
#: per-entry cost (planning, AQE, job launch, commit, collect), the rest by
#: executor compute, self-join shuffles and Python/Arrow workers.
FAMILY = {
    "q1_pricing_summary": "relational",
    "events_hourly": "events",
    "streaming_foreachbatch_totals": "streaming",
    "hive_roundtrip": "io",
    "dedup_simhash": "dedup",
    "dedup_embedding_cosine_lsh": "similarity",
    "tfidf_top_terms": "text",
}
ALL_FAMILIES = sorted(set(FAMILY.values()))


def _rows(tbl: pa.Table) -> list[tuple]:
    names = tbl.schema.names
    return [tuple(r[c] for c in names) for r in tbl.to_pylist()]


class Expected:
    """An oracle's result in the form the comparison needs."""

    def __init__(self, tbl: pa.Table) -> None:
        self.columns = sorted(tbl.schema.names)
        self.types = _type_map(tbl)
        self.rows = normalize(_rows(tbl), tbl.schema.names)

    def matches(self, tbl: pa.Table) -> bool:
        return (
            sorted(tbl.schema.names) == self.columns
            and _type_map(tbl) == self.types
            and normalize(_rows(tbl), tbl.schema.names) == self.rows
        )


class Registry(Restorable):
    STATE = ("order_rng", "bytes_written", "user_bytes_in", "live_user_bytes")

    def __init__(self, seed: int, work: str, tracer: Tracer, rec: Recorder) -> None:
        self.seed, self.work = seed, work
        self.tracer, self.rec = tracer, rec
        self.corpus = os.path.join(work, "corpus")
        self.url = os.path.join(work, "results")
        self.queries = spark_entry.queries()
        self.oracles = spark_entry.oracle_sql()
        self.expected: dict[str, Expected | None] = {}
        self.order_rng = np.random.default_rng(seed)
        self.bytes_written = 0
        self.user_bytes_in = 0
        self.live_user_bytes: dict[str, int] = {}

    # -- set-up ---------------------------------------------------------
    def prepare(self, spark: SparkSession) -> None:
        corpus.write_corpus(self.seed, self.corpus)
        self.bind(spark)

    def bind(self, spark: SparkSession) -> None:
        self.spark = spark
        self.ds = HiveDataset(spark, self.url, ["entry"])

    def warm(self) -> None:
        """One untimed pass, then the oracles: entries that materialize
        tables for their oracle to read have written them by now."""
        self.unit()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.corpus}/{t}.parquet')"
                )
            for name in FAMILY:
                sql = rebind_stable_paths(self.oracles[name], Q._GATE_SF_DIR, self.corpus)
                try:
                    self.expected[name] = Expected(con.sql(sql).arrow())
                except duckdb.Error as exc:  # every run of the entry fails its check
                    self.rec.note_error(f"{name} oracle", exc)
                    self.expected[name] = None
        finally:
            con.close()

    # -- one pass -------------------------------------------------------
    def unit(self) -> None:
        names = sorted(FAMILY)
        for i in self.order_rng.permutation(len(names)):
            self._run(names[i])

    def _run(self, name: str) -> None:
        tr = self.tracer
        tr.next_op()
        kind = f"queries.{FAMILY[name]}"
        ok = True
        try:
            with tr.span(kind):
                df = self.queries[name](self.spark, self.corpus)
            with tr.span(kind, "collect"):
                tbl = df.toArrow()
            op_s = sum(s.end - s.start for s in tr.spans[-2:])
            release_cached_residue(self.spark)

            before = parquet_files(self.url)
            with tr.span("hive_dataset.write", "persist"):
                result = self.spark.createDataFrame(tbl).withColumn("entry", F.lit(name))
                with tr.span("hive_dataset.write"):
                    self.ds.write(result)
            write_s = tr.spans[-1].end - tr.spans[-1].start
            self.bytes_written += new_bytes(before, parquet_files(self.url))
            self.user_bytes_in += tbl.nbytes
            self.live_user_bytes[name] = tbl.nbytes

            with tr.span("hive_dataset.read_partition"):
                back = self.ds.read_partition({"entry": name})
            with tr.span("hive_dataset.read_partition", "collect"):
                back_tbl = back.drop("entry").toArrow()
            read_s = tr.spans[-1].end - tr.spans[-2].start
            if name in self.expected:
                exp = self.expected[name]
                ok = exp is not None and exp.matches(back_tbl)
                if not ok:
                    self.rec.note_error(name)
        except Exception as exc:  # a failed entry is counted, not fatal
            ok = False
            self.rec.note_error(name, exc)
        self.rec.op(op_s if ok else 0.0, ok)
        if ok:
            self.rec.write(write_s, tbl.num_rows)
            self.rec.read(read_s)

    # -- end of run -----------------------------------------------------
    def verify(self) -> bool:
        """The results dataset holds exactly one partition per entry."""
        return {p["entry"] for p in self.ds.partitions()} == set(FAMILY)

    def storage(self) -> dict[str, float]:
        return storage_metrics(
            self.url,
            sum(self.live_user_bytes.values()),
            self.bytes_written,
            self.user_bytes_in,
        )
