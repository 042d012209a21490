"""In-memory spans and IO counters for the traced run.

Spans are recorded from the benchmark's side only: around the calls the
benchmark makes, and around the public engine functions it patches for
the length of a traced phase. The program itself is not changed.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.fs as pafs


class Tracer:
    """Spans ``{name, start, end, parent, op_id}`` kept in a list.

    Single-threaded by design: every call it wraps runs on the driver's
    main thread, so one stack gives each span its parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op_id: int | str | None = None
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter() - self._t0,
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "op_id": self.op_id}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until :meth:`unpatch`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def self_times(self, op_ids=None) -> dict[str, dict]:
        """Per span name: calls, total and self seconds. Self time is the
        span's duration minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for i, s in enumerate(self.spans):
            if op_ids is not None and s["op_id"] not in op_ids:
                continue
            d = s["end"] - s["start"]
            row = out[s["name"]]
            row["calls"] += 1
            row["total_s"] += d
            row["self_s"] += d - child[i]
        return dict(out)

    def covered(self, names, within: str, op_ids) -> tuple[float, float]:
        """-> (seconds of spans named in ``names`` that nest anywhere below
        a ``within`` span, total seconds of the ``within`` spans), over the
        spans of ``op_ids``."""
        inside = 0.0
        outer = 0.0
        for s in self.spans:
            if s["op_id"] not in op_ids:
                continue
            if s["name"] == within:
                outer += s["end"] - s["start"]
            elif s["name"] in names:
                p = s["parent"]
                while p is not None and self.spans[p]["name"] != within:
                    p = self.spans[p]["parent"]
                if p is not None:
                    inside += s["end"] - s["start"]
        return inside, outer

    def dump(self, path, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=self.spans), fh)


class _CountingReader:
    """File-like wrapper that counts read calls and bytes returned."""

    def __init__(self, raw, stats: dict):
        self._raw = raw
        self._stats = stats
        self.closed = False

    def read(self, nbytes=None):
        data = self._raw.read() if nbytes is None else self._raw.read(nbytes)
        self._stats["read_calls"] += 1
        self._stats["bytes_read"] += len(data)
        return data

    def seek(self, pos, whence=0):
        return self._raw.seek(pos, whence)

    def tell(self):
        return self._raw.tell()

    def size(self):
        return self._raw.size()

    def close(self):
        self.closed = True
        self._raw.close()


class CountingHandler(pafs.FileSystemHandler):
    """Delegates to ``LocalFileSystem`` and counts input reads, so IO can
    be measured from outside through the engine's ``filesystem=`` hook."""

    def __init__(self):
        self.fs = pafs.LocalFileSystem()
        self.stats = {"bytes_read": 0, "read_calls": 0}

    def reset(self) -> None:
        self.stats.update(bytes_read=0, read_calls=0)

    def _counted(self, raw):
        return pa.PythonFile(_CountingReader(raw, self.stats), mode="r")

    def open_input_file(self, path):
        return self._counted(self.fs.open_input_file(path))

    def open_input_stream(self, path):
        return self._counted(self.fs.open_input_file(path))

    def open_output_stream(self, path, metadata):
        return self.fs.open_output_stream(path, metadata=metadata)

    def open_append_stream(self, path, metadata):
        return self.fs.open_append_stream(path, metadata=metadata)

    def get_type_name(self):
        return "counting-local"

    def normalize_path(self, path):
        return self.fs.normalize_path(path)

    def get_file_info(self, paths):
        return self.fs.get_file_info(paths)

    def get_file_info_selector(self, selector):
        return self.fs.get_file_info(selector)

    def create_dir(self, path, recursive):
        self.fs.create_dir(path, recursive=recursive)

    def delete_dir(self, path):
        self.fs.delete_dir(path)

    def delete_dir_contents(self, path, missing_dir_ok=False):
        self.fs.delete_dir_contents(path, missing_dir_ok=missing_dir_ok)

    def delete_root_dir_contents(self):
        self.fs.delete_root_dir_contents()

    def delete_file(self, path):
        self.fs.delete_file(path)

    def move(self, src, dest):
        self.fs.move(src, dest)

    def copy_file(self, src, dest):
        self.fs.copy_file(src, dest)


def counting_filesystem() -> tuple[pafs.PyFileSystem, CountingHandler]:
    handler = CountingHandler()
    return pafs.PyFileSystem(handler), handler
