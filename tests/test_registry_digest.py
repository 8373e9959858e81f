"""Full-registry plan-drift gate: every registered query's canonicalized
physical-plan digest must match the committed map in
tools/registry_digests.json, so a code change that alters ANY query's
plan cannot land without regenerating (and thereby reviewing) the map.

The build+explain pass comes from the shared session-scoped
``registry_plans`` fixture (conftest), paid once per suite run across
the four registry-wide gates; the round-trip/write-audit queries
execute their sink at builder time (that IS the operator under test),
plan builds themselves never execute.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_registry_plan_digests_match_committed(registry_plans):
    from tools.registry_digest import (
        CANONICAL_SF_DIR,
        digest_of_plan,
        load_committed,
    )

    committed = load_committed()
    assert committed, "tools/registry_digests.json missing or empty — run " \
        "`python tools/registry_digest.py --write` and commit it"

    # same computation as tools/registry_digest.compute_digests, fed from
    # the suite's shared one-pass registry_plans fixture (built at the
    # digest-canonical sf0.01 / shuffle-32 config)
    current = {
        name: digest_of_plan(name, plans["formatted"], CANONICAL_SF_DIR)
        for name, plans in registry_plans.items()
    }
    drifted = sorted(
        n for n, d in current.items() if n in committed and committed[n] != d
    )
    missing = sorted(n for n in current if n not in committed)
    stale = sorted(n for n in committed if n not in current)
    assert not (drifted or missing or stale), (
        f"plan digests out of date — drifted={drifted} missing={missing} "
        f"stale={stale}; if the plan changes are intentional run "
        "`python tools/registry_digest.py --write`, review the diff, and "
        "commit the regenerated map"
    )


def test_subset_digest_write_refuses_normalizer_mismatch(monkeypatch):
    """ADVICE r12 #2: a subset --write into a map written under a
    different normalizer version must refuse (Spark-free check), while
    a matching version or an empty/absent map proceeds."""
    from tools import registry_digest as rd

    monkeypatch.setattr(
        rd, "load_committed_raw",
        lambda: {rd._META_KEY: rd.NORMALIZER_VERSION - 1, "q1": "aa"},
    )
    assert rd.subset_write_refusal(["q1"]) is not None
    # full regeneration is always allowed
    assert rd.subset_write_refusal(None) is None

    monkeypatch.setattr(
        rd, "load_committed_raw",
        lambda: {rd._META_KEY: rd.NORMALIZER_VERSION, "q1": "aa"},
    )
    assert rd.subset_write_refusal(["q1"]) is None

    monkeypatch.setattr(rd, "load_committed_raw", lambda: {})
    assert rd.subset_write_refusal(["q1"]) is None
