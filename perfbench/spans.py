"""Outside-in span tracing: wraps the engine's layer entry points.

`Tracer.install()` replaces, for the life of the tracer, the functions at
each layer boundary the benchmark can reach from outside the engine:

- `query.parser.parse_query` as bound in `query.engine`;
- `LocalSearcher.rewrite` and `LocalSearcher.search`, and its term
  fetch `LocalSearcher._load_terms`;
- the searcher's postings-dataset scan (`_postings_ds.to_table`);
- the `index.codec` decoders `decode_block` (as bound in `query.engine`)
  and `decode_full_blocks_batch`;
- `DistributedSearcher.search`;
- `streaming.nrt.index_batch`, and `build_index` / `append_segment` as
  bound in `streaming.nrt`;
- `index.builder.build_index` (the benchmark's own rebuilds).

A span is (name, start, end, parent, op); spans stay in memory until
`dump`.  Self time is a span's duration minus the part of it that its
children cover.  `uninstall()` restores every original.
"""

from __future__ import annotations

import functools
import json
import threading
import time


class _Span:
    __slots__ = ("name", "start", "end", "parent", "op", "count")

    def __init__(self, name, start, parent, op):
        self.name, self.start, self.end = name, start, start
        self.parent, self.op, self.count = parent, op, 0


class _TracedDataset:
    """Proxy for a pyarrow dataset whose `to_table` is a traced scan."""

    def __init__(self, ds, tracer):
        self._ds, self._tracer = ds, tracer

    def to_table(self, *a, **kw):
        with self._tracer.span("engine.scan") as sp:
            t = self._ds.to_table(*a, **kw)
            sp.count = t.num_rows
        return t

    def __getattr__(self, name):
        return getattr(self._ds, name)


class _SpanCtx:
    """Opens a span on enter (child of the innermost open span of this
    thread) and closes it on exit."""

    __slots__ = ("tracer", "name", "sp")

    def __init__(self, tracer, name):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> _Span:
        tr = self.tracer
        stack = tr._stack()
        self.sp = _Span(self.name, time.perf_counter(),
                        stack[-1] if stack else None, tr.op)
        tr.spans.append(self.sp)
        stack.append(len(tr.spans) - 1)
        return self.sp

    def __exit__(self, *exc) -> bool:
        self.sp.end = time.perf_counter()
        self.tracer._stack().pop()
        return False


class Tracer:
    def __init__(self):
        self.spans: list[_Span] = []
        self.op = None
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, owner, attr: str, name: str, count=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(name) as sp:
                out = orig(*a, **kw)
                if count is not None:
                    sp.count = count(a, out)
            return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, traced)

    # ------------------------------------------------------- installing
    def install(self) -> "Tracer":
        from lucene_solr_spark.index import builder, codec
        from lucene_solr_spark.query import distributed, engine
        from lucene_solr_spark.streaming import nrt

        tracer = self
        self._wrap(engine, "parse_query", "parser.parse")
        self._wrap(engine.LocalSearcher, "rewrite", "engine.rewrite")
        self._wrap(engine.LocalSearcher, "search", "engine.search")
        self._wrap(engine.LocalSearcher, "_load_terms", "engine.fetch")
        self._wrap(engine, "decode_block", "codec.decode",
                   count=lambda a, out: 1)
        self._wrap(codec, "decode_full_blocks_batch", "codec.decode",
                   count=lambda a, out: len(a[0]))
        self._wrap(distributed.DistributedSearcher, "search",
                   "distributed.search")
        self._wrap(nrt, "index_batch", "nrt.index_batch")
        self._wrap(nrt, "build_index", "builder.build_index")
        self._wrap(nrt, "append_segment", "builder.append_segment")
        self._wrap(builder, "build_index", "builder.build_index")

        init = engine.LocalSearcher.__init__

        @functools.wraps(init)
        def traced_init(searcher, *a, **kw):
            init(searcher, *a, **kw)
            searcher._postings_ds = _TracedDataset(searcher._postings_ds,
                                                   tracer)

        self._saved.append((engine.LocalSearcher, "__init__", init))
        engine.LocalSearcher.__init__ = traced_init
        return self

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def set_active(self, on: bool) -> None:
        if on and not self._saved:
            self.install()
        elif not on and self._saved:
            self.uninstall()

    # --------------------------------------------------------- analysis
    def self_times(self) -> list[float]:
        """Per-span self time: duration minus the union of its children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        out = []
        for i, sp in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(kids.get(i, [])):
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append((sp.end - sp.start) - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([
                {"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op, "count": s.count}
                for s in self.spans
            ], f)
