"""Freshness-rotation guard (VERDICT r10 ask #8): the driver's
correctness harness samples the FIRST 50 registry entries per round, so
window ordering (queries/__init__._CHECK_PRIORITY) is signal allocation.
r9 and r10 drained the r4/r5-stale cohorts by hand-planning that window;
this tool turns the discipline into a checked invariant.

Prints the check-age histogram (driver round of each query's most recent
CORRECTNESS_r*.json row) and the planned next-round window, then FAILS
(exit 1) when any query outside the upcoming window would age past
MAX_AGE_ROUNDS (6) at the next driver round — i.e. when the current
_CHECK_PRIORITY plan is about to let a cohort rot.

``--digest-evidence`` additionally reports, for every query whose
driver signal is stale (age ≥ 2 at the next round), whether its
CURRENT plan digest (tools/registry_digest.py) equals the digest
committed in tools/registry_digests.json at the round of its last
green signal — "digest unchanged since last green" is the
machine-checked witness that the shipped plan IS the blessed plan
(VERDICT r11 ask #5 follow-through). Rounds before r12 predate the
digest map and report "no digest evidence". Informational: it never
changes the exit code; the freshness contract stays age-based.

``--plan-next`` prints a RECOMMENDED _CHECK_PRIORITY ordering for the
next round's window: the mandatory drain cohort (hot queries whose
signal would exceed the age limit if skipped), oldest signal first with
a name tie-break, followed by the remaining slack count — the builder
appends new registrations / rewritten-query re-signals into that slack.
Mechanizes the window arithmetic SCALE.md records by hand each round.

Usage: python tools/rotation_report.py [--max-age N] [--window W]
                                       [--digest-evidence] [--plan-next]
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_AGE_ROUNDS = 6
WINDOW_SLOTS = 50


def last_checked() -> tuple[dict[str, int], int]:
    """query -> most recent driver round that checked it; plus the
    latest round number seen on disk."""
    last: dict[str, int] = {}
    latest = 0
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        r = int(os.path.basename(f).split("_r")[1].split(".")[0])
        latest = max(latest, r)
        try:
            rows = json.load(open(f))
        except Exception:
            continue
        for q in rows:
            last[q] = max(last.get(q, 0), r)
    return last, latest


def main() -> int:
    args = sys.argv[1:]
    max_age = MAX_AGE_ROUNDS
    slots = WINDOW_SLOTS
    if "--max-age" in args:
        max_age = int(args[args.index("--max-age") + 1])
    if "--window" in args:
        slots = int(args[args.index("--window") + 1])

    os.environ.setdefault("SPARK_GRAFT_STRICT_IMPORTS", "1")
    from fitness_nutrition_data_pipeline_spark.queries import all_specs
    from tools.registry_freeze import frozen_names, load_freeze

    registry = list(all_specs())
    last, latest = last_checked()
    next_round = latest + 1
    window = set(registry[:slots])

    # hot/frozen split (tools/registry_freeze.py): a frozen-INTACT query
    # (freeze-time digest still equals the suite-gated committed digest
    # map) is witnessed by "plan unchanged since its last green driver
    # signal" and exits the age invariant; a frozen query whose digest
    # drifted is auto-promoted back to hot and ages like any other.
    frozen = frozen_names()
    all_frozen = set(load_freeze().get("frozen", {}))
    promoted = all_frozen - frozen

    ages = Counter()
    stale: list[tuple[str, int]] = []
    never: list[str] = []
    for q in registry:
        if q not in last:
            never.append(q)
            if q not in window:
                stale.append((q, 10**9))
            continue
        ages[last[q]] += 1
        if q in frozen:
            continue
        age_next = next_round - last[q]
        if age_next > max_age and q not in window:
            stale.append((q, age_next))

    print(f"registry: {len(registry)} queries "
          f"({len(registry) - len(frozen)} hot, {len(frozen)} frozen-intact); "
          f"latest driver round: r{latest}")
    if promoted:
        print(f"auto-promoted to hot (frozen digest drifted — re-signal, "
              f"then re-freeze): {sorted(promoted)}")
    print("check-age histogram (round -> queries):")
    for r in sorted(ages, reverse=True):
        print(f"  r{r}: {ages[r]}")
    if never:
        print(f"never driver-checked ({len(never)}): {sorted(never)}")
    print(f"next-round window (first {slots} registrations): "
          f"{len(window & set(registry))} slots planned")
    oldest_after = min(
        [last[q] for q in registry
         if q in last and q not in window and q not in frozen],
        default=next_round,
    )
    print(f"oldest HOT signal OUTSIDE the window after r{next_round}: "
          f"r{oldest_after} (age {next_round - oldest_after})")

    if "--plan-next" in args:
        _plan_next(registry, last, frozen, next_round, max_age, slots)

    if "--digest-evidence" in args:
        _digest_evidence(registry, last, next_round)

    if stale:
        print(f"FAIL: {len(stale)} queries would exceed age {max_age} at "
              f"r{next_round} and are NOT in the planned window:")
        for q, a in sorted(stale, key=lambda x: -x[1])[:40]:
            print(f"  {q} (age {'never' if a >= 10**9 else a})")
        return 1
    print(f"OK: no query outside the window exceeds age {max_age} at r{next_round}")
    return 0


def _plan_next(registry, last, frozen, next_round, max_age, slots) -> None:
    """Recommended window for the round AFTER next_round, under the
    practiced drain-one-round-early convention: a cohort at age max_age
    goes into the window NOW, because skipping it leaves no later chance
    — the guard hard-fails it one round later, when the window may also
    owe a newer cohort. So the recommended drain set is every hot query
    whose signal would reach age > max_age by (next_round + 2) if the
    (next_round + 1) window skipped it. Assumes the next_round window
    lands green (its members' signals become next_round)."""
    window = set(registry[:slots])
    mandatory = sorted(
        (
            (last[q], q)
            for q in registry
            if q in last and q not in frozen
            # after next_round lands, this query's signal is next_round if
            # it is in the current window, else unchanged
            and (next_round if q in window else last[q])
            < next_round + 2 - max_age
        ),
    )
    print(f"\n--plan-next: r{next_round + 1} window recommendation "
          f"(assumes the r{next_round} window lands green):")
    print(f"  mandatory drain: {len(mandatory)} queries; "
          f"slack: {slots - len(mandatory)} slots")
    for r, q in mandatory:
        print(f'    "{q}",  # r{r}')


def _digest_evidence(registry, last, next_round) -> None:
    """Per stale query: does its CURRENT plan digest equal the digest
    committed at the round of its last green driver signal?"""
    from fitness_nutrition_data_pipeline_spark.session import get_spark
    from tools.registry_digest import compute_digests
    # the digest map committed at round r, or None when absent or written
    # under an incomparable normalizer: no evidence, not mass false
    # DIGEST-DRIFT (review r12)
    from tools.registry_freeze import digest_map_at_round as map_at_round

    stale_qs = [q for q in registry
                if q in last and next_round - last[q] >= 2]
    if not stale_qs:
        print("digest evidence: no stale queries")
        return
    spark = get_spark("rotation_digest_evidence")
    current = compute_digests(spark, stale_qs)
    cache: dict[int, dict[str, str] | None] = {}
    unchanged = drifted = no_evidence = 0
    for q in stale_qs:
        r = last[q]
        if r not in cache:
            cache[r] = map_at_round(r)
        blessed = (cache[r] or {}).get(q)
        if blessed is None:
            no_evidence += 1
        elif blessed == current[q]:
            unchanged += 1
        else:
            drifted += 1
            print(f"  DIGEST-DRIFT since r{r}: {q} "
                  f"({blessed} -> {current[q]}) — re-signal with priority")
    print(f"digest evidence over {len(stale_qs)} stale queries: "
          f"{unchanged} unchanged-since-green, {drifted} drifted-since-green, "
          f"{no_evidence} no-evidence (signal predates the r12 digest map)")


if __name__ == "__main__":
    raise SystemExit(main())
