"""Spans around the public calls of each layer, patched in at run time from
the benchmark's own files; nothing in the program changes.

A span records its name, start, end, parent span and operation id. The
client side opens one root span per operation; calls made on the servers'
handler threads while a request is outstanding attach to that request's
root span (one client, one request at a time). Spans stay in memory and
are written out when the run ends."""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        #: (op id, root span id) of the operation in flight
        self._op: tuple[str, int] | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, attrs: dict | None = None):
        sid = next(self._ids)
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._op[1] if self._op else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "op": self._op[0] if self._op else None,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        if attrs:
            rec.update(attrs)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def operation(self, op_id: str, kind: str):
        with self.span(f"op.{kind}") as rec:
            rec["op"] = op_id
            self._op = (op_id, rec["id"])
            try:
                yield rec
            finally:
                self._op = None

    # -- patching --------------------------------------------------------------

    def wrap_fn(self, fn, name: str, attrs_fn=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = attrs_fn(*args, **kwargs) if attrs_fn else None
            with self.span(name, attrs):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        orig = owner.__dict__[attr]
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self.wrap_fn(orig, name, attrs_fn))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- derived numbers ----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], ())
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def by_op(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["op"] is not None:
                out.setdefault(s["op"], []).append(s)
        return out


def install(tracer: Tracer) -> None:
    """Wrap the public calls of every layer the benchmark drives."""
    from kenshin_spark.commit import ManifestCommitProtocol
    from kenshin_spark.functions import render, targets
    from kenshin_spark.store import ParquetTieredStore
    from kenshin_spark.streaming.ingest import StreamingIngest

    tracer.patch(StreamingIngest, "process_batch", "ingest.process_batch")
    tracer.patch(StreamingIngest, "maintenance", "ingest.maintenance")
    for attr in (
        "upsert", "propagate", "catalog_add", "expire", "compact",
        "fetch", "fetch_glob", "read",
    ):
        tracer.patch(ParquetTieredStore, attr, f"store.{attr}")

    def txn_attrs(_self, tx, *_a, **_k):
        return {
            "adds": len(tx.adds),
            "bytes": sum(tx.adds.values()),
            "drops": len(tx.drops),
        }

    tracer.patch(
        ManifestCommitProtocol, "commit_txn", "commit.commit_txn", txn_attrs
    )
    # store_render_fn imports both names when it is wired, so patching the
    # modules before wiring reaches the closures
    tracer.patch(targets, "parse_target", "render.parse_target")
    tracer.patch(render, "apply_chain", "render.apply_chain")
