"""dataset_lifecycle: polario's own write/append/read/compact surface,
driven straight through ``HiveDataset`` and checked against a model.

The dataset has two string partition columns over 100 partitions whose
sizes follow a Zipf law, and ``max_rows_per_fragment`` splits the largest
partitions into several fragments. Each round runs a fixed multiset of
operations in a seeded order, so every seed exercises the same mix, and
the partitions each operation touches are drawn by size rank from a fixed
stream (``SHAPE_SEED``), so every seed also touches the same sizes.

The mix and sizes are assumptions, not taken from a measured trace: the
round is append-heavy so that small-batch appends visibly grow the
fragment count of the hot partitions that reads favour, and one
compaction per round rewrites the most fragmented partition, trading a
rewrite for fewer fragments.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from polario_spark import HiveDataset

from perfbench.results import Recorder
from perfbench.storage import Restorable, new_bytes, parquet_files, storage_metrics
from perfbench.trace import Tracer

P1 = [f"r{i}" for i in range(10)]
P2 = [f"d{j}" for j in range(10)]
KEYS = [(a, b) for a in P1 for b in P2]
ZIPF_S = 1.1
BASE_ROWS = 200_000
MAX_ROWS_PER_FRAGMENT = 7_500
WRITE_PARTITIONS = 3  # partitions one write overwrites
WRITE_ROWS = 10_000  # rows per overwritten partition
APPEND_ROWS = 1_000  # one small fragment per append
# One scan per round: scans are the slowest reads, and with ten or more of
# them in a run the read tail would sit on the boundary between scans and
# partition reads, jumping between the two from run to run.
ROUND = (
    ["write"] * 2
    + ["append"] * 8
    + ["read_partition"] * 7
    + ["scan", "partitions", "compact", "delete_partition"]
)
READS = {"read_partition", "scan", "partitions"}
POOL = 8  # distinct pre-built write batches; appends get twice as many
_PAYLOADS = 256
#: Seed of the draws that pick partitions by size rank (which ranks a write
#: overwrites, an append grows, a read or a delete touches). It is the same
#: for every run, so every ``--seed`` works on the same sizes; the run's seed
#: sets which key holds each rank, the operation order and the row values.
SHAPE_SEED = 0


@dataclass
class PartState:
    rows: int
    vsum: int
    user_bytes: int


class Model:
    """Expected row count, sum of ``v`` and user bytes of each live partition."""

    def __init__(self) -> None:
        self.parts: dict[tuple[str, str], PartState] = {}

    def apply(self, op: str, batch: "Batch | None" = None, key=None) -> None:
        if op == "write":
            for k, st in batch.stats.items():
                self.parts[k] = PartState(st.rows, st.vsum, st.user_bytes)
        elif op == "append":
            for k, st in batch.stats.items():
                cur = self.parts.setdefault(k, PartState(0, 0, 0))
                cur.rows += st.rows
                cur.vsum += st.vsum
                cur.user_bytes += st.user_bytes
        elif op == "delete_partition":
            self.parts.pop(key, None)
        elif op != "compact":
            raise ValueError(op)

    def user_bytes(self) -> int:
        return sum(p.user_bytes for p in self.parts.values())


@dataclass
class Batch:
    frame: pd.DataFrame
    stats: dict[tuple[str, str], PartState]


def make_batch(rng: np.random.Generator, sizes: dict, payloads: list[str], id0: int) -> Batch:
    """Rows for the given {partition key: row count}, and their model stats."""
    frames, stats = [], {}
    pool = np.array(payloads, dtype=object)
    for (a, b), n in sizes.items():
        v = rng.integers(0, 1_000, n)
        pay = pool[rng.integers(0, len(payloads), n)]
        frames.append(
            pd.DataFrame(
                {"id": np.arange(id0, id0 + n), "v": v, "payload": pay, "p1": a, "p2": b}
            )
        )
        id0 += n
        user = 16 * n + sum(len(s) for s in pay) + n * (len(a) + len(b))
        stats[(a, b)] = PartState(n, int(v.sum()), user)
    return Batch(pd.concat(frames, ignore_index=True), stats)


def zipf_weights() -> np.ndarray:
    w = 1.0 / np.arange(1, len(KEYS) + 1) ** ZIPF_S
    return w / w.sum()


class Plan:
    """Every input of a run, built from the seed before anything is timed."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng(seed)
        self.rng_seed = int(rng.integers(0, 2**31))
        # rank[i] is the key with the i-th largest initial partition
        self.rank = [KEYS[i] for i in rng.permutation(len(KEYS))]
        self.weight = dict(zip(self.rank, zipf_weights()))
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        payloads = [
            "".join(rng.choice(letters, int(rng.integers(8, 41)))) for _ in range(_PAYLOADS)
        ]
        sizes = {
            k: max(1, int(round(w * BASE_ROWS))) for k, w in self.weight.items()
        }
        next_id = 0
        self.initial = make_batch(rng, sizes, payloads, next_id)
        next_id += len(self.initial.frame)
        shape = np.random.default_rng(SHAPE_SEED)
        self.writes, self.appends = [], []
        for _ in range(POOL):
            ranks = shape.choice(len(KEYS), WRITE_PARTITIONS, replace=False)
            b = make_batch(rng, {self.rank[i]: WRITE_ROWS for i in ranks}, payloads, next_id)
            next_id += len(b.frame)
            self.writes.append(b)
        for _ in range(2 * POOL):
            key = self.rank[int(shape.choice(len(KEYS), p=zipf_weights()))]
            b = make_batch(rng, {key: APPEND_ROWS}, payloads, next_id)
            next_id += len(b.frame)
            self.appends.append(b)


def fragments(files: dict[str, int]) -> Counter:
    """Fragment count of each partition key in a ``parquet_files`` listing."""
    out: Counter = Counter()
    for path in files:
        d2 = os.path.dirname(path)
        d1 = os.path.dirname(d2)
        key = tuple(os.path.basename(d).split("=", 1)[1] for d in (d1, d2))
        out[key] += 1
    return out


class Lifecycle(Restorable):
    name = "dataset_lifecycle"
    STATE = (
        "model",
        "rng",
        "shape",
        "n_write",
        "n_append",
        "bytes_written",
        "user_bytes_in",
        "files",
    )

    def __init__(self, seed: int, work: str, tracer: Tracer, rec: Recorder) -> None:
        self.seed, self.work, self.tracer, self.rec = seed, work, tracer, rec
        self.url = os.path.join(work, "dataset")
        self.plan: Plan | None = None
        self.n_write = self.n_append = 0
        self.bytes_written = 0
        self.user_bytes_in = 0

    # -- set-up ---------------------------------------------------------
    def prepare(self, spark: SparkSession) -> None:
        """Generate every input as a Parquet file, then write the initial
        dataset through ``HiveDataset``."""
        self.plan = Plan(self.seed)
        self.rng = np.random.default_rng(self.plan.rng_seed)
        self.shape = np.random.default_rng(SHAPE_SEED + 1)
        self.model = Model()
        shutil.rmtree(self.url, ignore_errors=True)
        inputs = os.path.join(self.work, "inputs")
        os.makedirs(inputs, exist_ok=True)
        batches = [self.plan.initial] + self.plan.writes + self.plan.appends
        self.input_paths = []
        for i, b in enumerate(batches):
            path = os.path.join(inputs, f"batch-{i}.parquet")
            pq.write_table(pa.Table.from_pandas(b.frame, preserve_index=False), path)
            self.input_paths.append(path)
        self.bind(spark)
        self.ds.write(self.initial_df)
        self.model.apply("write", self.plan.initial)
        self.files = parquet_files(self.url)

    def bind(self, spark: SparkSession) -> None:
        """Open the dataset and the input files in ``spark`` (again after a
        restart)."""
        self.ds = HiveDataset(spark, self.url, ["p1", "p2"], MAX_ROWS_PER_FRAGMENT)
        frames = [spark.read.parquet(p) for p in self.input_paths]
        self.initial_df = frames[0]
        self.write_dfs = frames[1 : 1 + POOL]
        self.append_dfs = frames[1 + POOL :]

    def warm(self) -> None:
        self.unit()

    # -- one round ------------------------------------------------------
    def _live_by_rank(self) -> list[tuple[str, str]]:
        return [k for k in self.plan.rank if k in self.model.parts]

    def _live(self, hot: bool) -> tuple[str, str]:
        keys = self._live_by_rank()
        if hot:
            w = np.array([self.plan.weight[k] for k in keys])
            return keys[int(self.shape.choice(len(keys), p=w / w.sum()))]
        return keys[int(self.shape.integers(0, len(keys)))]

    def unit(self) -> None:
        for op in self.rng.permutation(ROUND):
            self._run(str(op))

    def _run(self, op: str) -> None:
        tr = self.tracer
        tr.next_op()
        first = len(tr.spans)
        kind = f"hive_dataset.{op}"
        rows = 0
        ok = True
        try:
            if op == "write":
                batch = self.plan.writes[self.n_write % POOL]
                frame = self.write_dfs[self.n_write % POOL]
                self.n_write += 1
                with tr.span(kind):
                    self.ds.write(frame)
                self.model.apply(op, batch)
                rows = len(batch.frame)
            elif op == "append":
                batch = self.plan.appends[self.n_append % (2 * POOL)]
                frame = self.append_dfs[self.n_append % (2 * POOL)]
                self.n_append += 1
                with tr.span(kind):
                    self.ds.append(frame)
                self.model.apply(op, batch)
                rows = len(batch.frame)
            elif op == "compact":
                # maintenance compacts the most fragmented partition
                frags = fragments(self.files)
                key = max(self._live_by_rank(), key=lambda k: frags[k])
                with tr.span(kind):
                    self.ds.compact({"p1": key[0], "p2": key[1]})
            elif op == "delete_partition":
                key = self._live(hot=False)
                with tr.span(kind):
                    self.ds.delete_partition({"p1": key[0], "p2": key[1]})
                self.model.apply(op, key=key)
            elif op == "read_partition":
                key = self._live(hot=True)
                with tr.span(kind):
                    df = self.ds.read_partition({"p1": key[0], "p2": key[1]})
                with tr.span(kind, "collect"):
                    tbl = df.toArrow()
                exp = self.model.parts[key]
                ok = tbl.num_rows == exp.rows and pc.sum(tbl["v"]).as_py() == exp.vsum
            elif op == "scan":
                p1 = P1[int(self.rng.integers(0, len(P1)))]
                with tr.span(kind):
                    df = self.ds.scan()
                with tr.span(kind, "collect"):
                    got = {
                        r["p2"]: (r["n"], r["s"])
                        for r in df.where(F.col("p1") == p1)
                        .groupBy("p2")
                        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
                        .collect()
                    }
                exp = {
                    k[1]: (st.rows, st.vsum)
                    for k, st in self.model.parts.items()
                    if k[0] == p1
                }
                ok = got == exp
            elif op == "partitions":
                with tr.span(kind):
                    got = {(p["p1"], p["p2"]) for p in self.ds.partitions()}
                ok = got == set(self.model.parts)
            else:
                raise ValueError(op)
        except Exception as exc:  # a failed operation is counted, not fatal
            ok = False
            self.rec.note_error(op, exc)
        else:
            if not ok:
                self.rec.note_error(op)
        seconds = sum(s.end - s.start for s in tr.spans[first:])
        if op not in READS:
            now = parquet_files(self.url)
            self.bytes_written += new_bytes(self.files, now)
            self.files = now
            if op in ("write", "append"):
                self.user_bytes_in += sum(
                    st.user_bytes for st in batch.stats.values()
                )
        self.rec.op(seconds, ok)
        if ok and op in READS:
            self.rec.read(seconds)
        elif ok:
            self.rec.write(seconds, rows)

    # -- end of run -----------------------------------------------------
    def verify(self) -> bool:
        """Whole-dataset check of every partition against the model."""
        got = {
            (r["p1"], r["p2"]): (r["n"], r["s"])
            for r in self.ds.scan()
            .groupBy("p1", "p2")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect()
        }
        return got == {k: (s.rows, s.vsum) for k, s in self.model.parts.items()}

    def storage(self) -> dict[str, float]:
        return storage_metrics(
            self.url, self.model.user_bytes(), self.bytes_written, self.user_bytes_in
        )
