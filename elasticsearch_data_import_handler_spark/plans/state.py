"""Build state: lineage manifests, locks, and snapshot checkpoints.

Re-expresses the reference's state semantics (SURVEY.md §2A A5–A7) without an
external service:

- A6 state read/write — the reference stored ``{statementId, lastRunDate}``
  in a hidden ES index, advanced only on success, so a failed window is
  re-imported next run.  Here: ``_state/state.json`` + a ``lineage`` parquet
  table, committed only after the batch's data files are fully written.
- A7 statement lock — the reference aborted if another run held the
  per-statement lock.  Here: an exclusive ``flock`` on a file under the
  index dir (single-writer per index; a real deployment swaps this for an
  Iceberg conditional commit — same contract).
- A5 {lastRun} macro — the reference substituted the last successful
  timestamp into the SQL.  Here: ``last_indexed_batch`` in state.json is the
  snapshot watermark; the builder indexes batches strictly after it.

Lineage rows: (build_id, batch_id, status, n_docs, n_postings, wall_ms,
attempt) — per-batch metrics + resume bookkeeping (C13/C14).

``state.json`` carries the on-disk ``format_version``; an index written in
any other format is refused, since there is one decoder (see plans/build.py).
It also carries the corpus totals (``n_docs``, ``sum_dl``), so the totals
and the batches they count advance in one atomic write.
"""

from __future__ import annotations

import fcntl
import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field


# 3: state.json carries the corpus totals n_docs and sum_dl (a format-2
# state has none).  2: postings store per-(batch, salt) doc ordinals,
# doc_stats holds the ord → doc_id map.  1 (no field in state.json): 64-bit
# doc-id postings.
FORMAT_VERSION = 3


class IndexFormatError(ValueError):
    """The index on disk was written in a format this engine does not read."""


@dataclass
class IndexState:
    """Contents of _state/state.json — the committed view of the index."""

    last_indexed_batch: int = -1
    committed_batches: list[int] = field(default_factory=list)
    s_shards: int = 1          # global doc-hash shard count (power of two)
    n_buckets: int = 8         # term-hash partition count for postings
    build_id: str = ""
    analyzer: dict = field(default_factory=dict)  # A8: per-index analysis chain
    has_positions: bool = False    # positional postings written per batch
    n_docs: int = 0            # active docs over committed batches
    sum_dl: int = 0            # their summed doc lengths
    format_version: int = FORMAT_VERSION

    @classmethod
    def from_dict(cls, d: dict, where: str) -> "IndexState":
        """The state stored as ``d``; raises :class:`IndexFormatError` when
        it was written in another on-disk format."""
        found = d.get("format_version", 1)
        if found != FORMAT_VERSION:
            raise IndexFormatError(
                f"index {where} is in on-disk format {found}; this engine "
                f"reads format {FORMAT_VERSION} only — rebuild the index "
                "(build_index, or reindex from the source pages)")
        return cls(**d)


def _state_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_state", "state.json")


def read_state(index_dir: str) -> IndexState | None:
    p = _state_path(index_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return IndexState.from_dict(json.load(f), index_dir)


def write_state(index_dir: str, state: IndexState) -> None:
    """Atomic commit: write temp + rename (the batch is not visible until
    this succeeds — A6's 'state advanced only on success')."""
    os.makedirs(os.path.join(index_dir, "_state"), exist_ok=True)
    tmp = _state_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(asdict(state), f, indent=1)
    os.replace(tmp, _state_path(index_dir))


class BuildLock:
    """A7: single-writer lock per index dir: an exclusive, non-blocking
    ``flock`` on ``_state/build.lock``.  The kernel releases it when the
    holder's descriptor closes, on exit or crash alike, so a dead holder
    leaves nothing to reclaim; the file itself stays.  ``flock``, not
    ``lockf``: two opens of the file conflict even within one process."""

    def __init__(self, index_dir: str):
        self.path = os.path.join(index_dir, "_state", "build.lock")
        self._fd: int | None = None

    def acquire(self) -> bool:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        fd = os.open(self.path, os.O_CREAT | os.O_WRONLY)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            os.close(fd)
            return False
        self._fd = fd
        return True

    def release(self) -> None:
        if self._fd is not None:
            fcntl.flock(self._fd, fcntl.LOCK_UN)
            os.close(self._fd)
            self._fd = None

    def __enter__(self):
        if not self.acquire():
            raise RuntimeError(f"index {os.path.dirname(self.path)} is locked "
                               "by another build (reference A7 semantics: abort)")
        return self

    def __exit__(self, *exc):
        self.release()


def new_build_id() -> str:
    return f"b{int(time.time())}_{uuid.uuid4().hex[:8]}"


def lineage_row(build_id: str, batch_id: int, status: str, n_docs: int,
                n_postings: int, wall_ms: int, attempt: int = 1) -> dict:
    return {
        "build_id": build_id,
        "batch_id": batch_id,
        "status": status,
        "n_docs": n_docs,
        "n_postings": n_postings,
        "wall_ms": wall_ms,
        "attempt": attempt,
    }


def append_lineage(index_dir: str, rows: list[dict]) -> None:
    """Append lineage rows as a new parquet file (commit-log style — append
    only, no rewrite; mirrors an Iceberg append)."""
    import pandas as pd

    d = os.path.join(index_dir, "lineage")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(rows).to_parquet(
        os.path.join(d, f"{rows[0]['build_id']}_{rows[0]['batch_id']}_{int(time.time()*1000)}.parquet")
    )


def read_lineage(index_dir: str):
    import glob

    import pandas as pd

    files = glob.glob(os.path.join(index_dir, "lineage", "*.parquet"))
    if not files:
        return pd.DataFrame(columns=["build_id", "batch_id", "status", "n_docs",
                                     "n_postings", "wall_ms", "attempt"])
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
