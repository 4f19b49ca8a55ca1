"""Per-run sample store and the end-to-end metrics computed from it."""

from __future__ import annotations

import sys
import traceback

from perfbench.stats import p50, tail


class Recorder:
    """Latency samples of successful operations, and failure counts.

    ``op`` records every attempted operation; ``read`` and ``write`` add
    the storage-side samples (for the registry workloads, persisting an
    entry's result and reading it back). While ``timing`` is off (the warm
    pass) operations are still counted and their failures too, but no
    sample is kept.
    """

    def __init__(self) -> None:
        self.ops: list[float] = []
        self.reads: list[float] = []
        self.writes: list[float] = []
        self.rows_written = 0
        self.row_write_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.timing = True

    def op(self, seconds: float, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
        elif self.timing:
            self.ops.append(seconds)

    def read(self, seconds: float) -> None:
        if self.timing:
            self.reads.append(seconds)

    def write(self, seconds: float, rows: int) -> None:
        if not self.timing:
            return
        self.writes.append(seconds)
        if rows:
            self.rows_written += rows
            self.row_write_s += seconds

    @staticmethod
    def note_error(what: str, exc: BaseException | None = None) -> None:
        """Report a failed operation on stderr; ``exc`` is None when the
        operation returned a wrong result."""
        print(f"operation {what} failed" + (":" if exc else ": wrong result"), file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def metrics(self, wall_s: float) -> tuple[dict[str, float], dict[str, object]]:
        """End-to-end metrics over the measured window, and diagnostics
        giving each tail's percentile and sample count.

        A metric whose samples are all missing, because every such
        operation failed, is left out; the failures are in ``failed``.
        """
        out: dict[str, float] = {"ops_per_s": len(self.ops) / wall_s}
        diag: dict[str, object] = {}
        for name, xs in (("op", self.ops), ("read", self.reads), ("write", self.writes)):
            if not xs:
                continue
            value, pct, n = tail(xs)
            out[f"{name}_p50_s"] = p50(xs)
            out[f"{name}_tail_s"] = value
            diag[f"{name}_tail"] = {"percentile": round(pct, 1), "samples": n}
        if self.row_write_s:
            out["write_rows_per_s"] = self.rows_written / self.row_write_s
        diag["failed_ops_frac"] = self.failed / max(self.attempted, 1)
        return out, diag
