"""Attestation-driven driver rotation.

The driver's correctness gate samples the FIRST 50 registry entries
each round (registration order as exposed by ``registry.all_queries``).
For that sample to attest the *staleness frontier* — never-attested
entries first, then the oldest green attestations — the ordering must
track the recorded ``CORRECTNESS_r*.json`` history.

Through round 5 this rotation was a hand-maintained 140-line list in
``registry.py`` whose invariants lived in comments; the r5 verdict
(item #8) asked for it to be DERIVED from the attestation data at
import time with the invariants pytest-pinned. This module is that
derivation; ``tools/attestation_report.py`` reuses it for the human
report.

Ordering key, oldest-first (stable within a tier by registration
order, so the plan is deterministic):

1. never-attested entries (no green driver row in any round — a red
   hash-fail row does NOT count as attested);
2. entries whose physical plan changed since their freshest green row
   (hand-flagged in ``PLAN_CHANGED_REATTEST`` by the change author —
   plan-hashing at import time would require building every DataFrame,
   ~minutes of Spark work before the first query runs);
3. everything else by freshest green round, oldest first.
"""

from __future__ import annotations

import glob
import json
import os
import re

# Entries whose physical plan changed since their last green driver
# row. The ONLY hand-maintained piece of the rotation: add a name here
# in the same commit that changes its plan; remove it once a newer
# CORRECTNESS round shows it green.
#
# The value is the FIRST ROUND THAT MUST RE-ATTEST the new plan —
# i.e. (round whose driver gate will next see the change) — NOT the
# round the change was authored in. The distinction matters exactly
# when a change lands after a round's driver run: flagging with that
# round's own number would let a same-round green row (which attested
# the OLD plan) silently supersede the flag (the r6 ADVICE edge). A
# green row from a round >= the flagged value supersedes the flag
# automatically; anything older keeps the entry on the 0.5 tier.
#
# Session-conf scope note (r14 ADVICE): a session-wide conf that
# changes physical plans in bulk (e.g. the r14
# canChangeCachedPlanOutputPartitioning flip, which touches every
# entry that persists a shuffled sliver) is NOT flagged per-entry
# here — the flag list is for targeted rewrites; conf-induced plan
# changes are instead verified by the full-registry oracle sweeps at
# sf0.001/0.01/0.1 recorded in ORACLE_SF01_FULL_r*.md (0 failures),
# which cover every entry at once rather than rotating 50 at a time.
PLAN_CHANGED_REATTEST: dict[str, int] = {
    # name -> first round that must re-attest the new plan
    # r15 driver hash-parity fix (the r14 CORRECTNESS gate failure):
    # conformal nonconformity now reads the NB score's EXACT decimal
    # (nb_quality_score_dec) instead of re-rounding the double through
    # the engine-divergent double→decimal cast the oracle never took.
    # Values are identical wherever the old round-trip was lossless;
    # the plan changed (one fewer cast pair), so re-attest:
    "ml_eval_conformal": 15,
    # Large/Small-Star deleted: the entry now runs connected_components;
    # the engine-side algorithm changed, the output contract did not
    "dedup_cluster_star": 16,
}


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_attestations(root: str | None = None) -> tuple[dict[str, int], int]:
    """``({entry: freshest green round}, newest round seen)``.

    A row is green if it hash-matched, or was a rows-only check that
    ran without error (``err == 'no_oracle'``). Unparseable files are
    skipped (never raises — a fresh checkout with no CORRECTNESS files
    simply yields ``({}, 0)``, degrading the rotation to registration
    order)."""
    root = root or repo_root()
    freshest: dict[str, int] = {}
    newest = 0
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        newest = max(newest, rnd)
        try:
            with open(path) as f:
                data = json.load(f)
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = row.get("hash_match") is True or row.get("err") == "no_oracle"
            if ok:
                freshest[name] = max(freshest.get(name, 0), rnd)
    return freshest, newest


def effective_round(name: str, freshest: dict[str, int]) -> float:
    """The staleness key: 0 = never attested, 0.5 = attested but the
    plan changed since (re-attest ahead of every ordinary refresh),
    else the freshest green round.

    ``rnd < flagged`` is exact under the flag convention above: the
    flag IS the first round that may attest the new plan, so any green
    row from an earlier round attested the old plan and is stale."""
    rnd = freshest.get(name, 0)
    if rnd == 0:
        return 0.0
    flagged = PLAN_CHANGED_REATTEST.get(name)
    if flagged is not None and rnd < flagged:
        return 0.5
    return float(rnd)


def driver_priority(
    names: list[str],
    root: str | None = None,
    has_oracle: set[str] | frozenset[str] | None = None,
) -> list[str]:
    """The full registry ordering: sort ``names`` by staleness key,
    stable (remaining ties keep registration order).

    When ``has_oracle`` is given, entries WITH a hash oracle order
    ahead of rows-only entries of EQUAL staleness: the driver records
    ``err: no_oracle`` for rows-only entries (no hard signal), so a
    driver slot spent on one buys less than the same slot spent on a
    hash-checkable entry that is just as stale. The staleness tiers
    themselves are untouched — a never-attested rows-only entry still
    fronts every merely-old hash-checked one."""
    freshest, _ = load_attestations(root)
    if has_oracle is None:
        return sorted(names, key=lambda n: effective_round(n, freshest))
    return sorted(
        names,
        key=lambda n: (effective_round(n, freshest), 0 if n in has_oracle else 1),
    )
