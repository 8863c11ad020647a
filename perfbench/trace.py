"""In-memory spans around calls into the program's layers.

The benchmark opens one *request* span around each operation its
client issues (a catch-up drain, an index sync, a read). When tracing
is on, :meth:`Tracer.instrument` also wraps the public functions of
each layer, so their calls, made by the program itself, open child
spans. A span records its name, start and end (wall-clock seconds),
its parent, and the request it belongs to. Streaming micro-batches run
on Spark's query thread and become requests of their own.

Spans stay in memory; :meth:`Tracer.dump` writes them as JSONL when
the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from ledger import TAG_PROP


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; always times request spans.

    With tracing off, :meth:`span` still measures, so the end-to-end
    numbers come from the same code path, but it records nothing,
    sets no Spark property and wraps no function.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._sc = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block; yields the open :class:`Span`."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        sp = Span(
            sid, name, time.time(),
            parent=parent.id if parent else None,
            request=parent.request if parent else sid,
            attrs=attrs,
        )
        is_request = parent is None
        if self.enabled and is_request and self._sc is not None:
            self._sc.setLocalProperty(TAG_PROP, str(sid))
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if self.enabled:
                if is_request and self._sc is not None:
                    self._sc.setLocalProperty(TAG_PROP, None)
                with self._lock:
                    self.spans.append(sp)

    def bind(self, spark) -> None:
        """Tag jobs submitted from this thread with the open request."""
        self._sc = spark.sparkContext

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` with a function that runs it inside a
        span; ``attrs(args)`` adds attributes from the call's
        arguments. :meth:`restore` undoes every wrap."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, **(attrs(args, kwargs) if attrs else {})):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def instrument(self) -> None:
        """Wrap the public functions of each layer the workloads use."""
        if not self.enabled:
            return
        from changedatacapture_spark.streaming import pipeline
        from changedatacapture_spark.streaming.index import SecondaryIndex
        from changedatacapture_spark.streaming.sink import SnapshotTable

        def table(args, kwargs):
            return {"table": args[0].path}

        def batch(args, kwargs):
            bid = args[2] if len(args) > 2 else kwargs.get("batch_id")
            return {"batch_id": bid}

        cls = pipeline.CdcPipeline
        self.wrap(cls, "process_batch", "pipeline.process_batch", batch)
        self.wrap(cls, "parse", "pipeline.parse")
        self.wrap(cls, "start", "pipeline.start")
        self.wrap(pipeline, "fan_out", "pipeline.fan_out")
        self.wrap(pipeline, "compact_latest", "cdc.compact_latest")
        for m in ("merge", "compact_runs", "read", "read_keys", "read_where"):
            self.wrap(SnapshotTable, m, f"sink.{m}", table)
        self.wrap(SecondaryIndex, "sync", "index.sync")
        self.wrap(SecondaryIndex, "lookup", "index.lookup")

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(sp), default=str) + "\n")

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]
