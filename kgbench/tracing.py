"""In-memory spans around calls into the package, written out once when
the run ends, and the process tree a run starts: its CPU time, and the
processes it must stop before it exits."""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records one span per traced call: name, start, end, parent span, op
    id and thread. A span opened in a worker thread with no open span of
    its own takes the op's root span as its parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.op_id: str | None = None
        self._root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else self._root,
            "op": self.op_id,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one op; spans of its worker threads hang off it."""
        self.op_id = op_id
        with self.span(name) as rec:
            self._root = rec["id"]
            try:
                yield rec
            finally:
                self._root = None
                self.op_id = None

    def of(self, name: str, op_id: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and (op_id is None or s["op"] == op_id)
        ]

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted(
            (max(s["start"], span["start"]), min(s["end"], span["end"]))
            for s in self.spans
            if s["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [dict(s, self_s=self.self_time(s)) for s in self.spans], fh, indent=0
            )


def descendants(root_pid: int) -> set[int]:
    """``root_pid`` and every live process below it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces: fields resume after the last ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    live process below it, including children they have reaped: the JVM,
    the Python worker daemon and its workers. Time the hypervisor steals
    from a virtual machine is not charged to a process, so on a shared
    host this moves much less than wall time does."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while sampled
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        total += sum(int(f) for f in fields[11:15])
    return total / tick
