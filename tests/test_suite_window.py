"""The driver verifies only the first 50 entries of ``queries()``
(dict order).  Two past failures pin this contract:

- VERDICT r4 item 1: when the suite outgrew 50, entries silently fell
  outside the window.  Rotation: unattested entries sort to the head.
- VERDICT r5 item 1: a *failing* row counted as "checked", so the red
  entry rotated to the tail and its fix shipped with no driver row.
  ``_driver_rows`` marks a row green only when rows, schema and hash
  all match.
- VERDICT r5 item 6: an entry whose source changed since its last green
  row must re-verify the same round.  ``_window_keys`` compares the
  entry's current content hash against SUITE_STATE.json (written by
  tools/update_suite_state.py at round start).

The order lives in the ``__spark_entry__`` driver adapter; the engine's
own ``suite.queries()`` is registration order and reads no driver file.
These tests pin all of it without touching Spark.
"""

import json
import pathlib

import __spark_entry__ as adapter
from ironman_medallion_lakehouse_spark import suite


def _write_round(root, n, rows):
    (root / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))


def _green():
    return {"rows_match": True, "schema_match": True, "hash_match": True}


def _red(**overrides):
    row = _green()
    row.update(overrides)
    return row


def _latest_green(root=adapter.ROOT):
    """Names with an all-green row in the newest round (``None`` when no
    CORRECTNESS file exists)."""
    rows = adapter._driver_rows(root)
    if not rows:
        return None
    latest = max(rnd for rnd, _ in rows.values())
    return {n for n, (rnd, green) in rows.items() if green and rnd == latest}


def _urgent(root=adapter.ROOT):
    return {n for n, key in adapter._window_keys(root).items() if key == 0}


def test_urgent_entries_sort_into_driver_window():
    """Red, source-changed, and never-checked entries MUST land inside
    the driver's 50-row window this round — these are the rows whose
    absence would ship a fix or a new operator unverified. The
    green-before backlog may spill past the window in a heavy round (it
    rotates in next round)."""
    green = _latest_green()
    names = adapter._ordered_names()
    assert len(names) == len(set(names))
    if not green:
        return  # fresh checkout: registration order, nothing to rotate
    rows = adapter._driver_rows()
    state = adapter._suite_state()
    stale = {
        n for n in names if n in state and state[n].get("hash") != adapter._entry_hash(n)
    }
    red = {n for n, (_, ok) in rows.items() if not ok}
    urgent = [n for n in names if n in stale or n not in rows or n in red]
    assert set(urgent) == _urgent()
    assert len(urgent) <= 50, (
        f"{len(urgent)} urgent entries exceed the driver window — "
        "split the round's changes"
    )
    window = set(names[:50])
    for n in urgent:
        assert n in window, f"{n} (urgent) missed the driver window"
    # urgent entries lead, then backlog, then attested tail
    assert names[: len(urgent)] == urgent
    head = set(urgent) | {n for n in names if n not in green}
    assert set(names[: len(head)]) == head


def test_failed_row_counts_as_unchecked(tmp_path):
    """Plant a latest-round file where one entry failed: the red entry
    must sort to the HEAD (it gets a driver row next round), while green
    entries rotate to the tail."""
    suite._load_all()
    names = list(suite.QUERIES)
    victim, rest = names[0], names[1:]
    rows = {victim: _red(hash_match=False, schema_match=False)}
    for n in rest:
        rows[n] = _green()
    _write_round(tmp_path, 99, rows)
    # record current hashes as "state at green" so staleness doesn't interfere
    state = {
        "entries": {n: {"hash": adapter._entry_hash(n), "green_round": 99} for n in rest}
    }
    (tmp_path / "SUITE_STATE.json").write_text(json.dumps(state))

    ordered = adapter._ordered_names(tmp_path)
    assert ordered[0] == victim, "failing entry must rotate to the head"
    green = _latest_green(tmp_path)
    assert victim not in green
    assert set(rest) == green


def test_rows_only_red_also_unchecked(tmp_path):
    suite._load_all()
    names = list(suite.QUERIES)
    rows = {n: _green() for n in names}
    rows[names[3]] = _red(rows_match=False)
    _write_round(tmp_path, 99, rows)
    assert names[3] not in _latest_green(tmp_path)
    assert adapter._driver_rows(tmp_path)[names[3]] == (99, False)


def test_changed_source_hash_sorts_to_head(tmp_path):
    """An entry green last round but edited since (hash mismatch vs
    SUITE_STATE.json) is stale and must re-enter the driver window."""
    suite._load_all()
    names = list(suite.QUERIES)
    victim = names[-1]
    _write_round(tmp_path, 99, {n: _green() for n in names})
    state = {"entries": {}}
    for n in names:
        h = adapter._entry_hash(n)
        if n == victim:
            h = "0" * 64  # pretend the source changed since the green row
        state["entries"][n] = {"hash": h, "green_round": 99}
    (tmp_path / "SUITE_STATE.json").write_text(json.dumps(state))

    assert _urgent(tmp_path) == {victim}
    ordered = adapter._ordered_names(tmp_path)
    assert ordered[0] == victim, "touched entry must re-verify the same round"


def test_missing_state_file_means_no_stale_entries(tmp_path):
    """No SUITE_STATE.json → staleness detection is inert (nothing is
    'touched'); urgency then rests on red rows and never-checked
    entries. test_suite_state_covers_green_entries pins that the state
    file actually exists and covers the green set in this repo."""
    suite._load_all()
    names = list(suite.QUERIES)
    _write_round(tmp_path, 99, {n: _green() for n in names})
    assert _urgent(tmp_path) == set()
    # every green entry rotates to the tail; nothing is urgent
    assert adapter._ordered_names(tmp_path) == adapter._ordered_names(tmp_path)


def test_latest_correctness_reader_picks_highest_round_green_only(tmp_path):
    _write_round(tmp_path, 1, {"a": _green(), "b": _green()})
    _write_round(tmp_path, 12, {"a": _green(), "b": _red(hash_match=False)})
    assert _latest_green(tmp_path) == {"a"}
    assert adapter._driver_rows(tmp_path) == {"a": (12, True), "b": (12, False)}


def test_every_entry_checked_within_bounded_rounds():
    """With W=50 and N entries, the rotation guarantees any entry gets a
    row at least every ceil(N/W)-th round (urgent entries every round).
    Pin N so the backlog bound stays at three rounds max — past 150 the
    window would need renegotiating with the driver."""
    names = adapter._ordered_names()
    assert len(names) <= 150, "suite grew past 3x the driver window"


def test_suite_state_covers_green_entries():
    """Round-aware ritual canary (VERDICT r6 item 1). The driver writes
    ``CORRECTNESS_r{N}.json`` AFTER the builder's window closes, so the
    shipped tree legitimately lags the state file by exactly one round
    until the next round's start ritual runs. Pass when the gap is 0
    (ritual ran for the latest round — then every green entry must be
    tracked) or 1 (normal round boundary); fail only when the gap is
    >= 2, i.e. the ritual was actually forgotten for a full round."""
    gap = adapter._suite_state_gap()
    if gap is None:
        return  # fresh checkout, nothing to track yet
    assert gap <= 1, (
        f"SUITE_STATE.json lags the newest CORRECTNESS file by {gap} rounds "
        "— run tools/update_suite_state.py (round-start ritual forgotten)"
    )
    if gap == 0:
        green = _latest_green()
        state = json.loads((adapter.ROOT / "SUITE_STATE.json").read_text())["entries"]
        for n in green or ():
            assert n in state, (
                f"{n} green but untracked — run tools/update_suite_state.py"
            )


def test_state_gap_tolerates_driver_file_newer_than_state(tmp_path):
    """The exact r6 failure mode: state stamped through round N, the
    driver then writes CORRECTNESS_r{N+1} — gap 1, must NOT fire. A
    second missed round (r{N+2} with no ritual) — gap 2, must fire."""
    suite._load_all()
    names = list(suite.QUERIES)
    _write_round(tmp_path, 6, {n: _green() for n in names})
    state = {"entries": {n: {"hash": "h", "green_round": 6} for n in names}}
    (tmp_path / "SUITE_STATE.json").write_text(json.dumps(state))
    assert adapter._suite_state_gap(tmp_path) == 0

    _write_round(tmp_path, 7, {n: _green() for n in names})
    assert adapter._suite_state_gap(tmp_path) == 1  # boundary state: OK

    _write_round(tmp_path, 8, {n: _green() for n in names})
    assert adapter._suite_state_gap(tmp_path) == 2  # ritual forgotten: fail

    assert adapter._suite_state_gap(tmp_path / "nowhere") is None


def test_backlog_orders_oldest_green_round_first(tmp_path):
    """When the green-before backlog exceeds the driver window, the
    most-stale attestations (oldest green round) must sort first so they
    cannot slip a second round (VERDICT r6 item 2). The backlog — green
    in an old round, absent from the latest file — sorts after the
    urgent entries and before last round's greens."""
    suite._load_all()
    names = list(suite.QUERIES)
    # latest round: one red entry and 4 greens -> the rest backlog
    red, fresh, backlog = names[0], names[1:5], names[5:]
    _write_round(tmp_path, 5, {n: _green() for n in names})  # all ever-checked
    # alternate old/new green rounds across the backlog
    _write_round(tmp_path, 7, {n: _green() for n in backlog[::2]})
    _write_round(tmp_path, 8, {n: _green() for n in backlog[1::2]})
    _write_round(tmp_path, 9, {red: _red(hash_match=False), **{n: _green() for n in fresh}})
    rows = adapter._driver_rows(tmp_path)
    entries = {n: {"hash": adapter._entry_hash(n), "green_round": rows[n][0]} for n in names[1:]}
    (tmp_path / "SUITE_STATE.json").write_text(json.dumps({"entries": entries}))

    ordered = adapter._ordered_names(tmp_path)
    backlog_ordered = [n for n in ordered if n in set(backlog)]
    seq = [rows[n][0] for n in backlog_ordered]
    assert seq == sorted(seq), "backlog must be oldest-green-round first"
    assert set(seq) == {7, 8}
    assert ordered[0] == red
    assert set(ordered[1 : 1 + len(backlog)]) == set(backlog)
    assert ordered[1 + len(backlog) :] == fresh


def test_operator_edit_stales_delegating_entries(tmp_path):
    """VERDICT r6 item 6 / ADVICE r6: _entry_hash must cover the
    operator modules an entry delegates to, so an operator-body edit
    mechanically stales the entry without a docstring-bump convention.
    Simulate by poisoning the module-file hash cache for an operator
    module a known thin wrapper calls."""
    suite._load_all()
    from ironman_medallion_lakehouse_spark.operators import experiment

    name = "q142_ks_drift"
    assert name in suite.QUERIES
    before = adapter._entry_hash(name)
    key = experiment.__file__
    orig = dict(adapter._MODULE_FILE_HASHES)
    try:
        assert key in adapter._MODULE_FILE_HASHES, (
            "entry hash never touched the operator module file"
        )
        adapter._MODULE_FILE_HASHES[key] = "simulated-edit"
        after = adapter._entry_hash(name)
    finally:
        adapter._MODULE_FILE_HASHES.clear()
        adapter._MODULE_FILE_HASHES.update(orig)
    assert before != after, "operator-module edit must change the entry hash"


def test_lambda_only_reference_reaches_helper(tmp_path):
    """ADVICE r7 item 3: a helper referenced ONLY inside a nested
    lambda/comprehension compiles into a child code object; name
    collection must recurse into ``co_consts`` so the helper's source
    still feeds the entry hash."""
    from ironman_medallion_lakehouse_spark.operators import experiment

    glb = {"experiment": experiment, "sorted": sorted}
    ns = {}
    exec(
        "def eng_lambda(xs):\n"
        "    return sorted(xs, key=lambda r: experiment.ks_two_sample)\n"
        "def eng_none(xs):\n"
        "    return sorted(xs)\n",
        glb,
        ns,
    )
    parts_lambda = adapter._transitive_source_parts(ns["eng_lambda"])
    parts_none = adapter._transitive_source_parts(ns["eng_none"])
    assert any("operators.experiment=" in p for p in parts_lambda), (
        "engine module referenced only inside a lambda must contribute its file hash"
    )
    assert not any("operators.experiment=" in p for p in parts_none)


def test_backfilled_unknown_hash_counts_as_stale(tmp_path):
    """ADVICE r6 item 2: a rotated-out entry backfilled with an unknown
    verified-hash (``hash: null``) must be treated as stale → urgent,
    never as silently verified. Its old green row keeps it from being
    urgent for any other reason."""
    suite._load_all()
    names = list(suite.QUERIES)
    victim = names[0]
    _write_round(tmp_path, 3, {victim: _green()})
    _write_round(tmp_path, 9, {n: _green() for n in names[1:]})
    entries = {n: {"hash": adapter._entry_hash(n), "green_round": 9} for n in names[1:]}
    entries[victim] = {"hash": None, "green_round": 3}
    (tmp_path / "SUITE_STATE.json").write_text(json.dumps({"entries": entries}))
    assert victim in _urgent(tmp_path)
    assert adapter._ordered_names(tmp_path)[0] == victim


def test_engine_suite_order_reads_no_driver_file(monkeypatch):
    """The engine's accessors are registration order with no file IO:
    bench, tools and tests call them and never use the driver's order."""

    def _no_io(*args, **kwargs):
        raise AssertionError("suite accessor touched the file system")

    monkeypatch.setattr(pathlib.Path, "read_text", _no_io)
    monkeypatch.setattr(pathlib.Path, "glob", _no_io)
    suite._load_all()
    assert list(suite.queries()) == list(suite.QUERIES)
    assert list(suite.oracle_sql()) == [
        n for n, q in suite.QUERIES.items() if q.oracle is not None
    ]


def test_engine_package_names_no_driver_file():
    pkg = pathlib.Path(suite.__file__).resolve().parent
    for f in pkg.rglob("*.py"):
        text = f.read_text()
        for token in ("CORRECTNESS_", "SUITE_STATE"):
            assert token not in text, f"{f.relative_to(pkg.parent)} names {token}"
