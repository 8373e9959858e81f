"""Per-test suite-durations diff (VERDICT r14 ask #6 mechanized).

Round totals proved uninformative for the suite bar: r14 measured
16m22s with partly-contended endpoints and 22m53s with quiet endpoints
— endpoint probes do not witness a ~20-minute middle, so the total is
dominated by WHEN the regime swings hit, not by code. The honest instrument is the per-test
durations table (SUITE_DURATIONS_r*.txt, `pytest --durations=60`):
compare the same test across two snapshots and regressions separate
from regime.

Flags a (phase, test) row when the newer reading exceeds FLAG_RATIO
(1.5) x the older one — but only when both snapshots are probe-sane
(same rule and thresholds as tools/bench_trend.py; probes are read
from the `[suite-start] ...` / `[suite-finish] ...` lines embedded in
the snapshot — the r14 file's finish pair reads mc 1.773, so that
snapshot is correctly NOT probe-sane and comparisons against it
annotate instead of flag). A >ratio row on an insane side still
prints, annotated, without flipping the exit code; a snapshot with no
probe lines at all reads as sane (nothing to adjudicate with).

Usage: python tools/suite_trend.py OLD.txt NEW.txt [--flag-ratio R]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_trend import PROBE_MC_MAX, PROBE_SC_MAX  # noqa: E402

FLAG_RATIO = 1.5
_ROW = re.compile(r"^\s*([\d.]+)s\s+(setup|call|teardown)\s+(\S+)")
_PROBE = re.compile(
    r"\[suite-(start|finish)\]\s+host_probe_sec=([\d.-]+)"
    r"(?:\s+host_probe_mc_sec=([\d.-]+))?"
)


def parse(path: str) -> tuple[dict[tuple[str, str], float], bool | None]:
    """(durations, probe_sane) — probe_sane None when the snapshot
    carries no probe lines (pre-instrument era: nothing to adjudicate
    with; treated as sane, same convention as bench_trend)."""
    rows: dict[tuple[str, str], float] = {}
    sane: bool | None = None
    for line in open(path):
        m = _ROW.match(line)
        if m:
            rows[(m.group(2), m.group(3))] = float(m.group(1))
            continue
        p = _PROBE.search(line)
        if p:
            sc = float(p.group(2))
            mc = float(p.group(3)) if p.group(3) else None
            ok = 0 <= sc <= PROBE_SC_MAX and (
                mc is None or 0 <= mc <= PROBE_MC_MAX
            )
            sane = ok if sane is None else (sane and ok)
    return rows, sane


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flag_ratio = FLAG_RATIO
    if "--flag-ratio" in sys.argv:
        flag_ratio = float(sys.argv[sys.argv.index("--flag-ratio") + 1])
    if len(args) != 2:
        print(__doc__)
        return 2
    old, old_sane = parse(args[0])
    new, new_sane = parse(args[1])
    if not old or not new:
        print(f"unparseable snapshot: {args[0] if not old else args[1]}")
        return 2
    both_sane = (old_sane is not False) and (new_sane is not False)
    print(f"old: {args[0]} ({len(old)} rows, probe-sane={old_sane})")
    print(f"new: {args[1]} ({len(new)} rows, probe-sane={new_sane})")

    flagged: list[str] = []
    common = sorted(set(old) & set(new), key=lambda k: -new[k])
    for key in common:
        ratio = new[key] / old[key] if old[key] else float("inf")
        mark = ""
        if ratio > flag_ratio:
            if both_sane:
                mark = f"  <-- FLAG >{flag_ratio}x"
                flagged.append(key[1])
            else:
                mark = (f"  <-- >{flag_ratio}x but a probe-insane "
                        f"snapshot: regime-noise, not flagged")
        phase, test = key
        print(f"  {new[key]:8.2f}s (was {old[key]:8.2f}s x{ratio:5.2f}) "
              f"{phase:8s} {test}{mark}")
    only_new = sorted(set(new) - set(old), key=lambda k: -new[k])
    if only_new:
        print(f"\nonly in new snapshot ({len(only_new)}):")
        for phase, test in only_new:
            print(f"  {new[(phase, test)]:8.2f}s {phase:8s} {test}")
    only_old = sorted(set(old) - set(new), key=lambda k: -old[k])
    if only_old:
        print(f"\nfell out of the slowest table ({len(only_old)}):")
        for phase, test in only_old:
            print(f"  {old[(phase, test)]:8.2f}s {phase:8s} {test}")
    print(f"\ncommon-row totals: old "
          f"{sum(old[k] for k in common):.1f}s -> new "
          f"{sum(new[k] for k in common):.1f}s")
    if flagged:
        print(f"FLAGGED: {flagged}")
        return 1
    print("no probe-sane per-test regression exceeds the flag ratio")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
