"""Fake Slack transport for the benchmark's sinks.

It runs inside the Python workers, so it must be importable there (the
harness puts the checkout on PYTHONPATH) and it must be cheap next to the
~1 ms a row costs: one appended line per post, key plus payload digest,
in a file per worker process.
"""

from __future__ import annotations

import hashlib
import os


class RecordingTransport:
    def __init__(self, record_dir: str) -> None:
        self.record_dir = record_dir

    def __call__(self, url: str, payload: str, idempotency_key: str) -> None:
        digest = hashlib.md5(payload.encode("utf-8")).hexdigest()
        path = os.path.join(self.record_dir, f"posts-{os.getpid()}.tsv")
        with open(path, "a") as f:
            f.write(f"{idempotency_key}\t{digest}\n")


class PostLog:
    """The posts recorded under one directory, read incrementally: each
    `new()` returns the (idempotency_key, payload md5) of every transport
    call since the previous one."""

    def __init__(self, record_dir: str) -> None:
        self.record_dir = record_dir
        self._read: dict[str, int] = {}  # file -> bytes consumed

    def new(self) -> list[tuple[str, str]]:
        out = []
        if not os.path.isdir(self.record_dir):
            return out
        for name in sorted(os.listdir(self.record_dir)):
            with open(os.path.join(self.record_dir, name), "rb") as f:
                f.seek(self._read.get(name, 0))
                data = f.read()
            whole = data[:data.rfind(b"\n") + 1]  # a line still being written waits
            self._read[name] = self._read.get(name, 0) + len(whole)
            out.extend(tuple(line.split("\t")) for line in whole.decode().splitlines())
        return out
