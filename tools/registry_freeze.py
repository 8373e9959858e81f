"""Hot/frozen registry split (VERDICT r12 ask #2).

The driver's correctness harness samples the FIRST 50 registry entries
per round, and the rotation guard (tools/rotation_report.py) enforces
that no query's driver signal ages past 6 rounds — which caps the
registry at 50 x 6 = 300 queries. This tool lifts that ceiling by
moving provably-stable queries into a FROZEN set whose staleness
witness is the committed plan-digest map instead of a fresh driver
signal:

  frozen  =>  (a) the query's most recent driver check was green, and
              (b) its plan digest has not changed since that check.

(a) is recorded at freeze time from CORRECTNESS_r*.json; (b) is
re-checked continuously: the suite gates tools/registry_digests.json
against the actual plans at HEAD (tests/test_registry_digest.py), and
this tool compares each frozen query's freeze-time digest against that
committed map. Any mismatch AUTO-PROMOTES the query back into the hot
rotation — rotation_report then counts it against the age-6 invariant
again, so a drifted frozen query must re-enter a driver window before
it can rot. The freshness contract therefore never weakens: every
query is witnessed either by a recent driver signal (hot) or by a
machine-checked "plan unchanged since its last green signal" (frozen).

Eligibility (enforced by ``freeze``, listed by ``propose``):
  - most recent driver signal is green (rows + schema + hash all match);
  - the digest map committed AT THAT ROUND (git show on the commit that
    added CORRECTNESS_r{r}.json) contains the query with the SAME digest
    as the current committed map — i.e. the shipped plan IS the plan the
    driver blessed, with no gap in the evidence chain;
  - >= MIN_GREENS lifetime green checks and ZERO lifetime non-green
    checks (a query that ever went red is not "settled");
  - an oracle-checked query (rows-only queries keep rotating — their
    driver signal is the only value witness they have);
  - no checkpoint scar in the canonical plan
    (tools/registry_checkpointed.json, maintained by registry_digest
    --write): localCheckpoint truncates lineage to "Scan ExistingRDD",
    so the digest witnesses only the post-pin subplan — too weak a
    drift witness to substitute for a driver signal (ADVICE r13 #3).

Usage:
  python tools/registry_freeze.py propose            # list eligible
  python tools/registry_freeze.py freeze NAME ...    # freeze (validates)
  python tools/registry_freeze.py freeze --all-eligible
  python tools/registry_freeze.py thaw NAME ...      # back to hot
  python tools/registry_freeze.py check              # enforce invariants

``check`` exit codes: 0 = all frozen entries valid (drifted entries are
reported as PROMOTED — that is the designed path, not an error);
1 = an entry is structurally invalid (not registered, signal not green
at freeze round, or freeze-time digest disagrees with the digest map
committed at the freeze round — evidence-chain corruption).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FREEZE_FILE = os.path.join(REPO, "tools", "registry_freeze.json")
MIN_GREENS = 3
_POLICY_KEY = "__policy__"

_POLICY = {
    "version": 1,
    "min_greens": MIN_GREENS,
    "rule": (
        "frozen => last driver signal green AND current committed plan "
        "digest equals the freeze-time digest, which equals the digest "
        "committed at the round of that signal; any digest change "
        "auto-promotes the query back into the hot (age-6) rotation"
    ),
    "witness": "tools/registry_digests.json, gated by "
    "tests/test_registry_digest.py",
}


def _is_green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
        and not row.get("err")
    )


def correctness_history() -> dict[str, list[tuple[int, bool]]]:
    """query -> [(round, green)] over every CORRECTNESS_r*.json."""
    hist: dict[str, list[tuple[int, bool]]] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        r = int(os.path.basename(f).split("_r")[1].split(".")[0])
        try:
            rows = json.load(open(f))
        except Exception:
            continue
        for q, row in rows.items():
            hist.setdefault(q, []).append((r, _is_green(row)))
    return hist


def digest_map_at_round(r: int) -> dict[str, str] | None:
    """The digest map as committed for driver round ``r`` (the commit
    that ADDED CORRECTNESS_r{r}.json), or None when unavailable or
    written under a normalizer version not comparable with the current."""
    from tools.registry_digest import _META_KEY, COMPARABLE_VERSIONS

    for fname in (f"CORRECTNESS_r{r:02d}.json", f"CORRECTNESS_r{r}.json"):
        rev = subprocess.run(
            ["git", "-C", REPO, "log", "--diff-filter=A", "--format=%H",
             "--", fname],
            capture_output=True, text=True,
        ).stdout.split()
        if rev:
            break
    if not rev:
        return None
    shown = subprocess.run(
        ["git", "-C", REPO, "show", f"{rev[0]}:tools/registry_digests.json"],
        capture_output=True, text=True,
    )
    if shown.returncode != 0 or not shown.stdout:
        return None
    hist = json.loads(shown.stdout)
    if hist.get(_META_KEY) not in COMPARABLE_VERSIONS:
        return None
    return hist


def load_freeze() -> dict:
    if not os.path.exists(FREEZE_FILE):
        return {_POLICY_KEY: _POLICY, "frozen": {}}
    with open(FREEZE_FILE) as f:
        return json.load(f)


def frozen_names() -> set[str]:
    """Names currently frozen AND intact (freeze-time digest still equals
    the committed digest map). Drifted entries are NOT returned — they
    are auto-promoted to hot, which is exactly how rotation_report must
    treat them. Pure file reads: safe to call from guards without Spark
    (the suite separately gates that the committed map matches HEAD)."""
    from tools.registry_digest import load_committed

    committed = load_committed()
    out = set()
    for name, meta in load_freeze().get("frozen", {}).items():
        if committed.get(name) == meta.get("digest"):
            out.add(name)
    return out


def _eligible(specs, hist) -> dict[str, dict]:
    """name -> freeze metadata for every currently-eligible query."""
    from tools.registry_digest import load_checkpointed, load_committed

    committed = load_committed()
    # Checkpoint-scarred plans digest only the post-pin subplan (lineage
    # truncates to "Scan ExistingRDD"), so "digest unchanged" would NOT
    # witness the computation upstream of the pin — exactly the evidence
    # freezing is built on. Those queries stay hot, where the driver's
    # value oracle re-checks them (ADVICE r13 #3).
    scarred = load_checkpointed()
    maps: dict[int, dict | None] = {}
    out: dict[str, dict] = {}
    for name, spec in specs.items():
        if spec.oracle is None or name in scarred:
            continue
        checks = hist.get(name, [])
        if not checks or not all(g for _, g in checks):
            continue
        if sum(1 for _, g in checks if g) < MIN_GREENS:
            continue
        last_round = max(r for r, _ in checks)
        if last_round not in maps:
            maps[last_round] = digest_map_at_round(last_round)
        blessed = (maps[last_round] or {}).get(name)
        if blessed is None or blessed != committed.get(name):
            continue
        out[name] = {
            "frozen_at_round": last_round,
            "last_green_round": last_round,
            "digest": blessed,
            "lifetime_greens": len(checks),
        }
    return out


def _specs():
    key = "SPARK_GRAFT_STRICT_IMPORTS"
    prev = os.environ.get(key)
    os.environ[key] = prev or "1"
    try:
        from fitness_nutrition_data_pipeline_spark.queries import all_specs

        return all_specs()
    finally:
        if prev is None:
            os.environ.pop(key, None)
        else:
            os.environ[key] = prev


def cmd_propose() -> int:
    specs = _specs()
    hist = correctness_history()
    frozen = set(load_freeze().get("frozen", {}))
    elig = {n: m for n, m in _eligible(specs, hist).items() if n not in frozen}
    from tools.registry_digest import load_checkpointed

    scarred = sorted(load_checkpointed() & set(frozen))
    if scarred:
        print(f"WEAK-WITNESS (frozen but checkpoint-scarred — digest "
              f"under-witnesses the plan; thaw these): {scarred}")
    print(f"eligible to freeze ({len(elig)}; already frozen: {len(frozen)}; "
          f"checkpoint-scarred queries are never eligible):")
    for n, m in sorted(elig.items()):
        print(f"  {n} (last green r{m['last_green_round']}, "
              f"{m['lifetime_greens']} lifetime greens, digest {m['digest']})")
    return 0


def cmd_freeze(names: list[str], all_eligible: bool) -> int:
    specs = _specs()
    hist = correctness_history()
    elig = _eligible(specs, hist)
    if all_eligible:
        names = sorted(elig)
    bad = [n for n in names if n not in elig]
    if bad:
        print(f"REFUSED: not eligible (policy: {_POLICY['rule']}): {bad}")
        return 1
    data = load_freeze()
    data[_POLICY_KEY] = _POLICY
    for n in names:
        data["frozen"][n] = elig[n]
    data["frozen"] = dict(sorted(data["frozen"].items()))
    with open(FREEZE_FILE, "w") as f:
        json.dump(data, f, indent=1)
        f.write("\n")
    print(f"froze {len(names)}; total frozen: {len(data['frozen'])}")
    return 0


def cmd_thaw(names: list[str]) -> int:
    data = load_freeze()
    missing = [n for n in names if n not in data.get("frozen", {})]
    if missing:
        print(f"not frozen: {missing}")
        return 1
    for n in names:
        del data["frozen"][n]
    with open(FREEZE_FILE, "w") as f:
        json.dump(data, f, indent=1)
        f.write("\n")
    print(f"thawed {len(names)}; total frozen: {len(data['frozen'])}")
    return 0


def cmd_check() -> int:
    from tools.registry_digest import load_checkpointed, load_committed

    specs = _specs()
    hist = correctness_history()
    committed = load_committed()
    data = load_freeze()
    scarred = load_checkpointed()
    maps: dict[int, dict | None] = {}
    invalid = promoted = intact = 0
    for name, meta in data.get("frozen", {}).items():
        if name not in specs:
            print(f"INVALID {name}: frozen but not registered")
            invalid += 1
            continue
        if name in scarred:
            print(f"INVALID {name}: frozen but checkpoint-scarred — the "
                  f"digest witnesses only the post-pin subplan; thaw and "
                  f"keep it in the hot rotation (ADVICE r13 #3)")
            invalid += 1
            continue
        r = meta.get("last_green_round")
        checks = dict(hist.get(name, []))
        if not checks.get(r):
            print(f"INVALID {name}: r{r} signal missing or not green")
            invalid += 1
            continue
        if r not in maps:
            maps[r] = digest_map_at_round(r)
        blessed = (maps[r] or {}).get(name)
        if blessed != meta.get("digest"):
            print(f"INVALID {name}: freeze-time digest {meta.get('digest')} "
                  f"!= digest committed at r{r} ({blessed}) — evidence "
                  f"chain corrupt")
            invalid += 1
            continue
        if committed.get(name) != meta.get("digest"):
            print(f"PROMOTED {name}: plan digest changed since freeze "
                  f"({meta.get('digest')} -> {committed.get(name)}) — back "
                  f"in the hot rotation; re-signal then re-freeze")
            promoted += 1
        else:
            intact += 1
    print(f"frozen: {intact} intact, {promoted} promoted (hot again), "
          f"{invalid} invalid")
    return 1 if invalid else 0


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    cmd, rest = args[0], args[1:]
    if cmd == "propose":
        return cmd_propose()
    if cmd == "freeze":
        return cmd_freeze([a for a in rest if not a.startswith("--")],
                          "--all-eligible" in rest)
    if cmd == "thaw":
        return cmd_thaw(rest)
    if cmd == "check":
        return cmd_check()
    print(f"unknown command {cmd!r}")
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
