#!/usr/bin/env python3
"""Snapshot per-entry source hashes for the driver window's change-awareness.

Run at ROUND START, before editing any suite/operator code: for every
entry that was all-green (rows+schema+hash) in the latest
``CORRECTNESS_r*.json``, record the entry's *current* source hash in
``SUITE_STATE.json``.  Because the working tree at round start is the
same code the driver verified, "current hash" == "hash at last green
row".  Any subsequent edit to the entry (function source or oracle SQL,
or an engine module it reaches) changes the hash, and the
``__spark_entry__`` adapter sorts the entry to the head of the driver's
50-row window so the touched code gets a fresh driver row the same
round (VERDICT r5 item 6).

Entries NOT green in the latest round keep their previous record (or
none), so they also sort to the head via their red or missing row.

``--restamp`` recomputes the recorded hash for every already-tracked
entry (keeping its ``green_round``).  ONLY valid at round start before
any engine/suite edit — i.e. when the working tree is still the code
the driver verified.  Needed exactly when ``_entry_hash``'s definition
changes (as in r7, which made it transitive over operator modules), or
after an edit every entry reaches (``session.py``) has passed
``tools/check_correctness.py`` 120/120 at sf0.01 and sf0.001: the old
hashes would otherwise mark every entry changed and flood the urgent
set past the driver window.
"""
from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as adapter  # noqa: E402
from ironman_medallion_lakehouse_spark import suite  # noqa: E402


def main() -> None:
    restamp = "--restamp" in sys.argv[1:]
    suite._load_all()
    hashes = {name: adapter._entry_hash(name) for name in suite.QUERIES}
    rows = adapter._driver_rows(ROOT)
    latest = max((rnd for rnd, _ in rows.values()), default=None)

    state_path = ROOT / "SUITE_STATE.json"
    state = {}
    if state_path.exists():
        state = json.loads(state_path.read_text())
    entries = state.setdefault("entries", {})

    n_green = n_backfill = 0
    for name, (rnd, green) in rows.items():
        if name not in hashes or not green:
            continue
        rec = entries.get(name)
        if rnd == latest:
            if isinstance(rec, dict) and rec.get("green_round") == latest:
                # already recorded for this round: re-running mid-round
                # (after edits) must NOT overwrite the round-start hash —
                # that would mark a touched entry as unchanged
                continue
            entries[name] = {"hash": hashes[name], "green_round": latest}
            n_green += 1
        elif name not in entries:
            # Backfill: green in an EARLIER round, absent from the latest
            # one (rotated out) and never recorded. The working tree that
            # was green then is NOT known (the code may have changed in an
            # intermediate round), so stamping the CURRENT hash could mark
            # edited code as verified (ADVICE r6 item 2). Record
            # ``hash: None``: the window order counts an unknown hash as
            # changed, so the entry gets a fresh driver row — the safe
            # direction.
            entries[name] = {"hash": None, "green_round": rnd}
            n_backfill += 1

    n_restamped = 0
    if restamp:
        for name, rec in entries.items():
            if name in hashes and isinstance(rec, dict) and rec.get("hash") is not None:
                if rec["hash"] != hashes[name]:
                    rec["hash"] = hashes[name]
                    n_restamped += 1

    state_path.write_text(json.dumps(state, indent=1, sort_keys=True) + "\n")
    print(f"recorded {n_green} green entries from round {latest} into {state_path}")
    print(f"backfilled {n_backfill} rotated-out entries from earlier rounds")
    if restamp:
        print(f"restamped {n_restamped} entries with the current hash algorithm")
    print(f"total tracked: {len(entries)} / {len(hashes)} registered")


if __name__ == "__main__":
    main()
