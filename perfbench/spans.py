"""Per-layer spans recorded from outside the program.

The tracer wraps the public entry points of each pig_spark module
(``Tracer.install``) and records one span per call: name, layer,
start, end, parent span and the benchmark op that caused it. Spans
stay in memory and are written out when the run ends. A layer's self
time is its spans' durations minus the time their child spans cover.

Python -> JVM command counts (py4j) are recorded at the same
boundaries: every open span on the calling thread counts the commands
sent while it is open. Deletes of garbage-collected JVM references are
sent by py4j's finalizer thread at times the program does not control,
so they are not counted.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass

# layer names: this repo's modules
SESSION, GRAMMAR, TRANSLATE, SOURCES, PLAN, EXEC = (
    "session", "latin.grammar", "latin.translate", "sources", "plan", "exec"
)
LAYERS = (SESSION, GRAMMAR, TRANSLATE, SOURCES, PLAN, EXEC)

_PY4J_DELETE = "m\nd\n"  # py4j MEMORY_COMMAND + MEMORY_DEL_SUBCOMMAND


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    op: str | None
    end: float = 0.0
    child_s: float = 0.0  # time covered by direct children
    py4j: int = 0  # Python->JVM commands while open (children included)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Span recorder. ``enabled=False`` makes ``span`` a no-op and
    installs no wrappers, so an untraced run executes the same
    benchmark code with no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[Span] = []
        self._thread = threading.get_ident()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _open(self, name: str, layer: str) -> Span | None:
        if threading.get_ident() != self._thread:
            return None  # spans describe the benchmark's own thread only
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, time.perf_counter(), parent, self.op)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._stack[-1].child_s += s.dur

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner: object, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a
        span-recording wrapper."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **k):
            s = self._open(attr, layer)
            try:
                return orig(*a, **k)
            finally:
                self._close(s)

        if is_dict:
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public entry points of each layer."""
        if not self.enabled:
            return
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        import pig_spark.latin.grammar as grammar
        import pig_spark.session as session
        import pig_spark.sources as sources
        from pig_spark import pigmix, queries
        from pig_spark.latin.translate import PigTranslator

        self.wrap(session, "get_spark", SESSION)
        self.wrap(grammar, "parse", GRAMMAR)
        self.wrap(PigTranslator, "run", TRANSLATE)
        self.wrap(sources, "load", SOURCES)
        self.wrap(sources, "store", SOURCES)
        for registry in (pigmix.PIGMIX_QUERIES, queries.QUERIES):
            for qname in list(registry):
                self.wrap(registry, qname, PLAN)
        # Spark actions: what DUMP, STORE and collect fire
        for attr in ("collect", "count", "toPandas", "toLocalIterator", "localCheckpoint", "checkpoint"):
            self.wrap(DataFrame, attr, EXEC)
        for attr in ("save", "saveAsTable", "insertInto", "parquet", "csv", "json", "orc", "text"):
            self.wrap(DataFrameWriter, attr, EXEC)

    def count_py4j(self, gateway_client) -> None:
        """Count Python->JVM commands on ``gateway_client``."""
        if not self.enabled:
            return
        orig = gateway_client.send_command

        def counted(command, *a, **k):
            if threading.get_ident() == self._thread and not command.startswith(_PY4J_DELETE):
                for s in self._stack:
                    s.py4j += 1
            return orig(command, *a, **k)

        gateway_client.send_command = counted
        self._undo.append((gateway_client, "send_command", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # -- output --------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = s.self_s
                f.write(json.dumps(row) + "\n")


class _SpanCtx:
    __slots__ = ("tracer", "name", "layer", "s")

    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer, self.s = tracer, name, layer, None

    def __enter__(self):
        if self.tracer.enabled:
            self.s = self.tracer._open(self.name, self.layer)
        return self.s

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.tracer._close(self.s)
        return False


def layer_self_times(spans: list[Span], ops: set[str]) -> dict[str, float]:
    """Self time per layer over the spans caused by ``ops``."""
    out = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        if s.op in ops and s.layer in out:
            out[s.layer] += s.self_s
    return out
