"""Index snapshot/restore — the ES ``_snapshot`` API surface.

ES snapshots are INCREMENTAL at the segment level: a snapshot copies only
segment files the repository doesn't already hold, because segments are
immutable once written.  Our index has the same property — committed
batch directories (postings/positions/doc_stats/lexicon parquet) never
mutate after commit; compaction and deletes write NEW generations/batches
— so the same incremental scheme applies directly:
a repository is a flat content store keyed by relative path, and a
snapshot is a manifest (file list + sizes + the state JSON at snapshot
time).  Restore materializes the manifest into a fresh index dir.

Consistency: a snapshot reads the committed state FIRST and then copies
only files that state references (batch dirs in ``committed_batches``,
current lexicon generation, tombstones; the corpus totals ride in the
state itself) — a concurrent in-flight build's half-written batch is
invisible to it, the same isolation the query readers get from
commit-last-state-flip.  Restore never overwrites an existing index dir.

Scale note: driver-side ``shutil`` here (same discipline as
``state.py``'s JSON backend); a lakehouse deployment swaps the file copy
for object-store copies driven by the SAME manifest — the manifest
format, referenced-files walk, and incremental skip logic are the
engine-owned parts.
"""

from __future__ import annotations

import json
import os
import shutil
import time


def _referenced_files(index_dir: str, state: dict) -> list[str]:
    """Relative paths of every file the committed state references.

    The isolation guarantee lives here: any ``batch=N`` path whose N is
    not in ``committed_batches`` belongs to an in-flight (or aborted)
    build and is EXCLUDED — snapshotting during a concurrent build sees
    exactly what a query reader sees."""
    committed = set(state.get("committed_batches") or [])
    out = []
    for root, _dirs, files in os.walk(index_dir):
        rel_root = os.path.relpath(root, index_dir)
        for f in files:
            rel = os.path.normpath(os.path.join(rel_root, f))
            top = rel.split(os.sep, 1)[0]
            if top == "_state":
                continue  # state is stored in the manifest, not the repo
            batch = next((p.split("=", 1)[1] for p in rel.split(os.sep)
                          if p.startswith("batch=")), None)
            if batch is not None and int(batch) not in committed:
                continue
            out.append(rel)
    return sorted(out)


def snapshot_index(index_dir: str, repo_dir: str, name: str) -> dict:
    """Snapshot ``index_dir`` into repository ``repo_dir`` under ``name``.

    Returns the manifest: {"name", "ts", "state", "files": [{path, size}],
    "copied": n, "reused": n}.  Files already present in the repo store
    with the same size are NOT copied again (segment immutability — the
    ES incremental behavior)."""
    from .state import read_state

    st = read_state(index_dir)
    if st is None:
        raise ValueError(f"{index_dir!r} has no committed index state")
    state_dict = json.loads(json.dumps(st.__dict__, default=list))
    store = os.path.join(repo_dir, "store")
    os.makedirs(store, exist_ok=True)
    manifest = {"name": name, "ts": int(time.time()), "state": state_dict,
                "files": [], "copied": 0, "reused": 0}
    for rel in _referenced_files(index_dir, state_dict):
        src = os.path.join(index_dir, rel)
        dst = os.path.join(store, rel)
        size = os.path.getsize(src)
        if os.path.exists(dst) and os.path.getsize(dst) == size:
            manifest["reused"] += 1
        else:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)
            manifest["copied"] += 1
        manifest["files"].append({"path": rel, "size": size})
    snaps = os.path.join(repo_dir, "snapshots")
    os.makedirs(snaps, exist_ok=True)
    tmp = os.path.join(snaps, f"{name}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(snaps, f"{name}.json"))
    return manifest


def list_snapshots(repo_dir: str) -> list[dict]:
    """ES ``GET _snapshot/repo/_all``: name + ts + file/byte totals."""
    snaps = os.path.join(repo_dir, "snapshots")
    out = []
    if not os.path.isdir(snaps):
        return out
    for f in sorted(os.listdir(snaps)):
        if f.endswith(".json"):
            with open(os.path.join(snaps, f)) as fh:
                m = json.load(fh)
            out.append({"name": m["name"], "ts": m["ts"],
                        "n_files": len(m["files"]),
                        "bytes": sum(e["size"] for e in m["files"])})
    return out


def restore_index(repo_dir: str, name: str, dest_dir: str) -> dict:
    """Materialize snapshot ``name`` into ``dest_dir`` (must not already
    hold an index).  Verifies every manifest entry exists in the repo
    store with the recorded size BEFORE copying anything, so a partial
    repo fails fast instead of restoring a corrupt index."""
    from .state import IndexState, write_state

    with open(os.path.join(repo_dir, "snapshots", f"{name}.json")) as f:
        manifest = json.load(f)
    if os.path.exists(os.path.join(dest_dir, "_state")):
        raise ValueError(f"{dest_dir!r} already holds an index — "
                         "restore into a fresh directory")
    state = IndexState.from_dict(manifest["state"], f"{repo_dir}:{name}")
    store = os.path.join(repo_dir, "store")
    for e in manifest["files"]:
        src = os.path.join(store, e["path"])
        if not os.path.exists(src) or os.path.getsize(src) != e["size"]:
            raise ValueError(
                f"repository is missing or corrupt for {e['path']!r} — "
                "refusing partial restore")
    for e in manifest["files"]:
        dst = os.path.join(dest_dir, e["path"])
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy2(os.path.join(store, e["path"]), dst)
    write_state(dest_dir, state)
    return manifest
