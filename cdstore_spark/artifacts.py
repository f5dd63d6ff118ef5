"""One reuse rule for every on-disk artifact (CDStore's resumable upload:
reuse exactly what the recorded metadata says is already stored).

An artifact is reused only when its marker — a flat JSON record written
after the artifact itself — holds the identity that built it. Every
build-once cache in the package (clip tiers, goldens, function goldens,
the IVF index, hot-doc corpora, the stream state, snapshot manifest
entries) decides through `reusable` and commits through `publish`; a
missing, corrupt or other-identity marker means rebuild.
"""

from __future__ import annotations

import json
import os


def reusable(marker: str, ident: dict) -> dict | None:
    """The marker's record if it parses and holds every `ident` key with
    an equal value (extra keys are metadata and ignored), else None."""
    try:
        with open(marker) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    # compare in JSON form, so tuples and lists in `ident` match what a
    # round trip through the marker gives back
    want = json.loads(json.dumps(ident))
    if not isinstance(rec, dict) or any(
            k not in rec or rec[k] != v for k, v in want.items()):
        return None
    return rec


def publish(marker: str, record: dict) -> None:
    """Write `record` atomically: readers see the old marker or the whole
    new one, never a torn file (pid-suffixed tmp, then os.replace)."""
    tmp = f"{marker}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, marker)
