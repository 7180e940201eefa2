"""Static guard for the one commit protocol (``sources.table``): no
module outside the two that implement it renames files, and none of
the retired on-disk conventions (rename asides, the tombstone sidecar,
the version pointer, the layout file) is named anywhere. Reads source
text only — no Spark."""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ("elt_gluepipeline_spark", "tools")
RENAMES = ("shutil.move", "os.replace", "os.rename")
RENAME_OWNERS = {"elt_gluepipeline_spark/sources/writers.py",
                 "elt_gluepipeline_spark/sources/table.py"}
RETIRED = (".aside", ".old_", "__compact_old", "_LATEST",
           "tombstone_bounds", "_layout.json")


def _sources():
    for top in SCANNED:
        for path in sorted((ROOT / top).rglob("*.py")):
            yield path.relative_to(ROOT).as_posix(), path.read_text(
                encoding="utf-8")


def test_only_the_commit_modules_rename_files():
    found = [(name, call) for name, text in _sources()
             for call in RENAMES if call in text and name not in RENAME_OWNERS]
    assert found == []


def test_retired_commit_conventions_are_gone():
    found = [(name, word) for name, text in _sources()
             for word in RETIRED if word in text]
    assert found == []
