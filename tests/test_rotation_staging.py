"""End-of-round gate for the verification rotation (VERDICT r6 #10).

The correctness driver hash-checks only the FIRST ~50 entries of
`__spark_entry__.queries()` per round.  Round 6 shipped with the
already-green round-6 set still staged in slots 1-50, wasting the
entire round-7 budget.  `_ordered()` now stages the rotation
dynamically from CORRECTNESS_r*.json; these tests pin that contract
so a stale staging can never ship again.
"""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod

DRIVER_SLOTS = 50


def _green_union() -> set[str]:
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            rows = json.load(f)
        for name, r in rows.items():
            if (isinstance(r, dict) and r.get("rows_match")
                    and r.get("schema_match") and r.get("hash_match")):
                green.add(name)
    return green


def test_first_slots_drain_the_backlog():
    """While a never-green backlog exists, the driver's budget window
    must contain zero already-green entries."""
    names = list(entrymod.queries())
    green = _green_union()
    backlog = [n for n in names if n not in green]
    if not backlog:
        return  # fully drained: any staging is fine
    window = names[:min(DRIVER_SLOTS, len(backlog))]
    stale = [n for n in window if n in green]
    assert not stale, (
        f"rotation stale: {len(stale)} already-green entries occupy "
        f"driver slots while {len(backlog)} never-green queries queue "
        f"behind: {stale[:10]}")


def test_backlog_order_is_stable_queue_order():
    """Never-green entries, and the green entries of each last-green
    round, appear in registry order, so the rotation is deterministic
    round-over-round."""
    names = list(entrymod.queries())
    reg = {n: i for i, n in enumerate(entrymod.registry.QUERIES)}
    last = _green_last_round()
    for rnd in {None, *last.values()}:
        group = [n for n in names if last.get(n) == rnd]
        assert group == sorted(group, key=reg.__getitem__), rnd


def _green_last_round() -> dict[str, int]:
    import re
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        with open(path) as f:
            rows = json.load(f)
        for name, r in rows.items():
            if (isinstance(r, dict) and r.get("rows_match")
                    and r.get("schema_match") and r.get("hash_match")):
                last[name] = max(last.get(name, 0), rnd)
    return last


def test_stable_tail_is_stalest_first():
    """VERDICT r8 #5: after the backlog slots, the stable-green tail
    must be ordered by ascending last-green round — the oldest proofs
    re-verify first, so every query re-proves at
    least every ~ceil(|registry|/50) rounds."""
    names = list(entrymod.queries())
    last = _green_last_round()
    if not last:
        return
    tail = [n for n in names if n in last]
    tail_rounds = [last[n] for n in tail]
    assert tail_rounds == sorted(tail_rounds), (
        "stable tail not stalest-first; first inversions: "
        f"{[(n, last[n]) for n in tail[:8]]}")


def test_queries_and_oracles_align():
    """Every query has an oracle (so test_parity runs all of them) and
    oracle_sql() shares queries()' staged ordering."""
    q = list(entrymod.queries())
    o = list(entrymod.oracle_sql())
    assert set(o) == set(q)
    rank = {n: i for i, n in enumerate(q)}
    assert o == sorted(o, key=lambda n: rank[n])
