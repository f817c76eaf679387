"""In-memory spans recorded from the benchmark's side of each layer call.

A span is one timed call into a layer: (workload, pass, op, phase,
start, end, parent). With tracing on, each phase also runs under its own
Spark job group, so the event-log reader can attach the jobs, stages and
tasks it launched. With tracing off the recorder keeps only the wall
times the end-to-end metrics need and makes no extra Spark calls.
Spans are written out as JSONL once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# perf_counter for durations, shifted once onto the epoch clock so span
# times line up with the event log's millisecond timestamps.
_EPOCH_SHIFT = time.time() - time.perf_counter()


def now() -> float:
    return time.perf_counter() + _EPOCH_SHIFT


@dataclass
class Span:
    id: int
    parent: int | None
    workload: str
    pass_no: int | None
    op: str | None
    phase: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        """Spark job group id of this span's phase."""
        return f"{self.workload}/{self.pass_no}/{self.op}/{self.phase}"


class Tracer:
    def __init__(self, workload: str, spark_context=None):
        """spark_context: set to trace Spark job groups; None records
        wall times only (the untraced, end-to-end run)."""
        self.workload = workload
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def traced(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, phase: str, pass_no: int | None = None, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            pass_no = parent.pass_no if pass_no is None else pass_no
            op = parent.op if op is None else op
        sp = Span(len(self.spans), parent.id if parent else None, self.workload, pass_no, op, phase, now())
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, sp.group)
        try:
            yield sp
        finally:
            sp.end = now()
            self._stack.pop()
            if self.sc is not None:
                if phase == "build":  # jobs launched while building DataFrames
                    sp.attrs["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(sp.group))
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.group)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def write_jsonl(self, path: str, extra: list[dict] = ()) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                rec = asdict(sp)
                rec["pass"] = rec.pop("pass_no")
                fh.write(json.dumps(rec) + "\n")
            for rec in extra:
                fh.write(json.dumps(rec) + "\n")
