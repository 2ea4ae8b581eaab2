"""Append-only JSONL logs with crash-safe tails.

One helper for every append-only log of the engine: the table snapshot
manifest (``io/tables.py``), the materialize checkpoint and the lineage
log (``pipeline/materialize.py``).  A crash mid-append can leave a torn
final line (the ``json + "\\n"`` write cut short).  Reads ignore it;
the next append repairs it first, then writes and fsyncs the new line,
so once a good line follows, no torn line can sit before it.
"""

from __future__ import annotations

import json
import os


def read_jsonl(path: str) -> list[dict]:
    """Every entry of the log, in order; [] when the file is missing.  A
    torn final line is ignored; a bad line anywhere else raises."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    out = []
    for i, ln in enumerate(lines):
        try:
            out.append(json.loads(ln))
        except json.JSONDecodeError:
            if i == len(lines) - 1:
                break  # torn final line: crash mid-append, ignore
            raise
    return out


def append_jsonl(
    path: str, entries: list[dict], sort_keys: bool = False
) -> None:
    """Append entries, one line each, durably (one flush + fsync)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    # repair a torn final line BEFORE appending — once a good line
    # follows it, read could no longer tell it from corruption
    if os.path.exists(path):
        with open(path, "rb+") as f:
            size = f.seek(0, os.SEEK_END)
            f.seek(max(size - 1, 0))
            if size and f.read(1) != b"\n":
                f.seek(0)
                data = f.read()
                cut = data.rfind(b"\n") + 1
                # A newline-less tail that still PARSES is an entry
                # readers already accept — complete it rather than
                # rolling it back.  Only an unparseable tail is torn.
                try:
                    json.loads(data[cut:])
                    f.write(b"\n")
                except ValueError:
                    f.seek(cut)
                    f.truncate()
    with open(path, "a") as f:
        f.writelines(
            json.dumps(e, sort_keys=sort_keys) + "\n" for e in entries
        )
        f.flush()
        os.fsync(f.fileno())
