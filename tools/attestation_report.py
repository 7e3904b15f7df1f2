"""Attestation freshness report — the rotation bookkeeping tool.

The driver's correctness gate samples the first 50 registry entries
per round; `attestation.driver_priority` fronts the staleness frontier
so entries don't quietly age. This tool reports that frontier FROM the
recorded CORRECTNESS files, plus any PLAN_CHANGED_REATTEST flags a
newer green row has superseded (prune those):

  python tools/attestation_report.py            # summary + next-50 plan
  python tools/attestation_report.py --check    # exit 1 if any entry's
                                                # freshest green row is
                                                # older than (newest
                                                # round - 3)

Output: per-round counts, never-attested entries, and the suggested
next-round 50-prefix (never-attested first, then oldest attestation,
ties in current registry order).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from bigquery_postgres_events_etl_spark.attestation import (  # noqa: E402
    load_attestations,
)


def main() -> None:
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from bigquery_postgres_events_etl_spark.registry import all_queries

    names = list(all_queries().keys())
    freshest, newest = load_attestations(repo_root)

    by_round: dict[int, list[str]] = {}
    for n in names:
        by_round.setdefault(freshest.get(n, 0), []).append(n)

    print(f"registry entries: {len(names)}; newest CORRECTNESS round: r{newest}")
    for rnd in sorted(by_round):
        label = "NEVER" if rnd == 0 else f"r{rnd}"
        print(f"  freshest {label}: {len(by_round[rnd])}")
    if by_round.get(0):
        print(f"  never-attested: {by_round[0]}")

    # suggested next 50: the REAL rotation — driver_priority is what
    # all_queries() actually fronts (never-attested, then plan-changed
    # re-attests, then oldest). A local re-derivation here silently
    # omitted the plan-changed tier (r11: the flagged pagerank was
    # missing from this report while driver_priority had it at #13).
    from bigquery_postgres_events_etl_spark.attestation import driver_priority

    plan = driver_priority(names)[:50]
    print("\nsuggested next-round 50-prefix (driver_priority order):")
    for n in plan:
        rnd = freshest.get(n, 0)
        print(f"  {n}  (freshest: {'never' if rnd == 0 else f'r{rnd}'})")

    # superseded plan-change flags: a green row from a round >= the
    # flag value supersedes it automatically (attestation.py), so the
    # dict entry is dead weight the module's own contract says to
    # remove — surface them here (a warning, not a failure: the flags
    # are harmless until the next plan change reuses a stale name)
    from bigquery_postgres_events_etl_spark.attestation import (
        PLAN_CHANGED_REATTEST,
    )

    superseded = sorted(
        n
        for n, flag_rnd in PLAN_CHANGED_REATTEST.items()
        if freshest.get(n, 0) >= flag_rnd
    )
    if superseded:
        print(
            f"\nsuperseded PLAN_CHANGED_REATTEST flags (green row >= flag "
            f"round exists — prune them): {superseded}"
        )

    if "--check" in sys.argv:
        stale_cut = newest - 3
        stale = [
            n for n in names if 0 < freshest.get(n, 0) <= stale_cut
        ]
        if stale:
            print(
                f"\nSTALE (> 3 rounds old, <= r{stale_cut}): {stale}",
                file=sys.stderr,
            )
            sys.exit(1)
        print("\nno entry staler than 3 rounds — OK")


if __name__ == "__main__":
    main()
