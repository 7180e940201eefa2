"""Incremental-load state: bookmarks + run manifests (SURVEY.md §2.1
S12, §2.8 T2/T4/T6).

The reference keeps per-table high-watermark bookmarks and per-run
manifests as JSON on S3 (go-incremental-ingest-elt.py:88-157,305-318).
Here the store is a pluggable local-FS JSON directory with the same
commit discipline: the bookmark is persisted only AFTER the sink write
succeeds; replays are safe because ingest dedupes per PK (W1), which is
the documented exactly-once-ish invariant (SURVEY.md §7.4).
"""

from __future__ import annotations

import json
import time
from pathlib import Path
from typing import Any

from .writers import write_atomic


class BookmarkStore:
    """Per-table high-watermark bookmarks as JSON files."""

    def __init__(self, root: str) -> None:
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _path(self, table: str) -> Path:
        safe = table.replace("/", "_").replace(".", "_")
        return self.root / f"bookmark_{safe}.json"

    def get(self, table: str) -> Any | None:
        p = self._path(table)
        if not p.exists():
            return None
        return json.loads(p.read_text()).get("last_value")

    def set(self, table: str, value: Any) -> None:
        write_atomic(str(self._path(table)),
                     json.dumps({"table": table, "last_value": value,
                                 "committed_at": time.time()}))


class RunManifest:
    """Per-run audit events (T4): one JSON file per run, append-in-memory,
    written once at the end (plus optional per-event flush)."""

    def __init__(self, root: str, run_id: str) -> None:
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.run_id = run_id
        self.events: list[dict[str, Any]] = []

    def log(self, stage: str, table: str, status: str, **extra: Any) -> None:
        self.events.append({"run_id": self.run_id, "stage": stage,
                            "table": table, "status": status,
                            "at": time.time(), **extra})

    def flush(self) -> Path:
        p = self.root / f"manifest_{self.run_id}.json"
        write_atomic(str(p), json.dumps(
            {"run_id": self.run_id, "events": self.events}, indent=2))
        return p


def parse_pk_config(spec: str) -> dict[str, list[str]]:
    """T6: parse ``'dbo.t1:pk|dbo.t2:pk1,pk2'`` with the reference's strict
    validation (go-incremental-ingest-elt.py:35-67): duplicate tables,
    empty tables, and empty/duplicate key lists are errors."""
    out: dict[str, list[str]] = {}
    if not spec or not spec.strip():
        raise ValueError("empty primary-key config")
    for entry in spec.split("|"):
        entry = entry.strip()
        if not entry:
            raise ValueError("empty entry in primary-key config")
        if ":" not in entry:
            raise ValueError(f"missing ':' in pk entry: {entry!r}")
        table, _, keys = entry.partition(":")
        table = table.strip()
        if not table:
            raise ValueError(f"empty table name in pk entry: {entry!r}")
        if table in out:
            raise ValueError(f"duplicate table in pk config: {table!r}")
        pk = [k.strip() for k in keys.split(",")]
        if any(not k for k in pk) or not pk:
            raise ValueError(f"empty key in pk entry: {entry!r}")
        if len(set(pk)) != len(pk):
            raise ValueError(f"duplicate key in pk entry: {entry!r}")
        out[table] = pk
    return out
