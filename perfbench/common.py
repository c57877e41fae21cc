"""Operation log shared by the workloads."""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class OpRecord:
    kind: str
    seconds: float
    ok: bool
    rows: int = 0
    #: split of ``seconds`` for lazy reads: building the DataFrame vs its action
    plan_s: float = 0.0
    exec_s: float = 0.0


@dataclass
class OpLog:
    """Every operation the measured phase ran, with its check result."""

    records: list[OpRecord] = field(default_factory=list)
    #: prepended to every kind (set-up operations are kept apart from measured ones)
    prefix: str = ""

    def run(self, tracer, spark, kind: str, fn) -> OpRecord:
        """Run ``fn`` as one operation. ``fn`` returns ``(ok, rows)`` or
        ``(ok, rows, plan_s)`` when it timed its own plan phase. An
        exception counts as a failed operation and is reported."""
        kind = self.prefix + kind
        plan_s = None
        t0 = time.perf_counter()
        with tracer.op(kind, spark):
            try:
                out = fn()
                ok, rows = bool(out[0]), int(out[1])
                if len(out) > 2:
                    plan_s = out[2]
            except Exception:  # noqa: BLE001 - an op failure is a result, not a crash
                traceback.print_exc(file=sys.stderr)
                ok, rows = False, 0
        dt = time.perf_counter() - t0
        if not ok:
            print(f"perfbench: operation {kind} failed its check", file=sys.stderr)
        rec = OpRecord(kind, dt, ok, rows)
        if plan_s is not None:
            rec.plan_s, rec.exec_s = plan_s, dt - plan_s
        self.records.append(rec)
        return rec

    def of(self, *kinds: str) -> list[OpRecord]:
        return [r for r in self.records if r.kind in kinds]

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.records)


def slot_medians(rounds: list[list[float]]) -> list[float]:
    """Per position in a round, the median time of the operation at that
    position over all rounds. Every round runs the same operations in the
    same order, so a round-length figure built from these does not jump
    between clusters the way one median over mixed operations does."""
    import numpy as np

    return np.median(np.asarray(rounds, dtype=float), axis=0).tolist()


def close(a: float, b: float, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))
