"""In-memory spans around the public calls of each layer.

``Tracer.install()`` wraps the package's public functions (by module
attribute, so call sites that import them resolve to the wrapper) and
``uninstall()`` restores them. Each span records name, start, end, its
parent span and the op it belongs to; nothing is written until
``dump()``.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass

# (layer, module, attribute) — a dotted attribute patches a class method.
# Modules that import a function by name are listed again so their
# reference is wrapped too.
PATCHES = [
    ("plans", "json_schema_rs_spark.plans.spec", "parse_spec"),
    ("plans", "json_schema_rs_spark.operators.runner", "parse_spec"),
    ("plans", "json_schema_rs_spark.plans.compiler", "compile_table_spec"),
    ("plans", "json_schema_rs_spark.operators.runner", "compile_table_spec"),
    ("functions", "json_schema_rs_spark.operators.runner", "explode_rows"),
    ("functions", "json_schema_rs_spark.operators.pipeline", "explode_rows"),
    ("runner", "json_schema_rs_spark.operators.runner",
     "ValidationEngine.validate"),
    ("pipeline", "json_schema_rs_spark.operators.pipeline",
     "transcript_pipeline"),
    ("pipeline", "json_schema_rs_spark.operators.pipeline",
     "cross_row_violations"),
    ("ledger", "json_schema_rs_spark.sources.ledger",
     "run_checkpointed_validation"),
    ("ledger", "json_schema_rs_spark.sources.ledger",
     "ValidationLedger.append"),
    ("ledger", "json_schema_rs_spark.sources.ledger",
     "ValidationLedger.completed_buckets"),
    ("ledger", "json_schema_rs_spark.sources.ledger", "PlanLineage.record"),
]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int      # -1 for a root span
    op: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.op = -1

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        for layer, mod_name, attr in PATCHES:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            fn = owner.__dict__[leaf]
            self._saved.append((owner, leaf, fn))
            setattr(owner, leaf,
                    self.wrap(fn, f"{mod_name.rsplit('.', 1)[1]}.{attr}",
                              layer))

    def uninstall(self) -> None:
        for owner, leaf, fn in reversed(self._saved):
            setattr(owner, leaf, fn)
        self._saved.clear()

    def self_times(self) -> dict:
        """Seconds per layer not covered by child spans, over all ops."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent >= 0:
                covered[s.parent] = covered.get(s.parent, 0.0) \
                    + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s.end - s.start) - covered.get(s.id, 0.0)
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        self.id = len(t.spans)
        t.spans.append(Span(self.id, self.name, self.layer,
                            time.perf_counter(), 0.0,
                            t._stack[-1] if t._stack else -1, t.op))
        t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.t._stack.pop()
        self.t.spans[self.id].end = time.perf_counter()
        return False
