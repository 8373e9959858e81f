"""End-to-end pipeline timing vs the reference's pandas anchor.

BASELINE.md pins the reference's extract+transform at ~9.75 s
(etl_pipeline.log, single-process pandas on its own inputs). This tool
runs OUR full warehouse pipeline (extract → resolve → dims/bridges/facts
→ load → validate → report) on the same reference inputs and prints one
JSON line with phase timings, so the "same order of magnitude end-to-end"
target is a measured number, not a claim.

Usage: python tools/bench_pipeline.py [--out FILE]
(requires /root/reference/data; exits 0 with {"skipped": true} otherwise)

``--out FILE`` additionally writes the JSON line to FILE — the per-round
committed artifact ``BENCH_pipeline_r{N}.json`` (VERDICT r12 ask #4), so
the e2e trend is machine-readable like the query bench. The line carries
the same self-annotating fields as bench.py (probe_sec for host regime,
plan_digest over the declared warehouse DAGs for drift), so a moved
total with an identical digest and an elevated probe reads as host
noise, exactly as with BENCH_r{N}.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

REF = "/root/reference/data"


def _warehouse_digest(warehouse: dict, base_dir: str) -> str:
    """Deterministic hash of every declared warehouse table's formatted
    physical plan, normalized with the registry-digest normalizer plus a
    token for this run's temp base dir (input paths vary per run)."""
    import contextlib
    import hashlib
    import io
    import re

    from tools.registry_digest import _normalize

    h = hashlib.sha256()
    for name in sorted(warehouse):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            warehouse[name].explain(mode="formatted")
        text = buf.getvalue().replace(base_dir.rstrip("/"), "<BASE>")
        text = re.sub(r"/\S*bench_pipeline_[^\s/\]]*", "<BASE>", text)
        # whole-stage-codegen ids are assigned in PLANNING order, which
        # the pooled (threaded) declaration makes racy across runs — the
        # same plans digested to two values ~30% of the time until this
        # rewrite (root-caused r13: the only differing lines were
        # "codegen id : 6" vs ": 7" on shared fragments of the two fact
        # DAGs). Registry digests don't need this (single-threaded
        # builds), so it lives here, not in _normalize — no normalizer
        # version bump.
        text = re.sub(r"codegen id : \d+", "codegen id : N", text)
        h.update(name.encode())
        h.update(_normalize(text, base_dir).encode())
    return h.hexdigest()[:16]


def main() -> None:
    if not os.path.isdir(REF):
        print(json.dumps({"skipped": True, "reason": "reference data absent"}))
        return

    from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
    from fitness_nutrition_data_pipeline_spark.pipeline import FitnessWarehousePipeline
    from fitness_nutrition_data_pipeline_spark.session import get_spark

    # bracket the run with probes: the post-run pair alone samples one
    # instant on a host whose regime swings on minute timescales (r14:
    # a 2.12x reading carried QUIET post-run probes because the
    # contention ended with the run) — pre/post together say whether
    # the regime held across the measurement
    from bench import host_probe_mc_sec, host_probe_sec

    probe_pre = host_probe_sec()
    probe_mc_pre = host_probe_mc_sec()

    base = tempfile.mkdtemp(prefix="bench_pipeline_")
    data = os.path.join(base, "data")
    os.makedirs(os.path.join(data, "fitbit"))
    t0 = time.time()
    for f in os.listdir(os.path.join(REF, "fitbit")):
        shutil.copy(os.path.join(REF, "fitbit", f), os.path.join(data, "fitbit"))
    shutil.copy(os.path.join(REF, "gym_members_exercise_tracking.csv"), data)
    # xlsx is read NATIVELY by sources/xlsx.py inside extract() — no
    # pre-conversion step; the copy below is pure staging (what remains
    # of the old convert phase, kept as its own timing for continuity)
    shutil.copy(os.path.join(REF, "gym_recommendation.xlsx"), data)
    shutil.copy(os.path.join(REF, "nutrition.xlsx"), data)
    t_convert = time.time() - t0

    spark = get_spark("bench_pipeline")
    cfg = PipelineConfig(
        data_dir=data,
        fitbit_dir=os.path.join(data, "fitbit"),
        warehouse_dir=os.path.join(base, "wh"),
        output_dir=os.path.join(base, "out"),
    )
    pipe = FitnessWarehousePipeline(spark, cfg)
    t1 = time.time()
    pipe.extract()
    t_extract = time.time() - t1

    # mid-run probe pair #1 (VERDICT r15 ask #6): the r15 artifacts
    # showed a 13% spread between two readings whose ENDPOINT probes
    # were all sane — endpoint brackets don't witness mid-run regime.
    # Probes sit BETWEEN timed phases, so their wall-clock lands in no
    # phase timing; with pre/mid1/mid2/post the artifact carries four
    # regime samples across the run instead of two.
    probe_mid1 = host_probe_sec()
    probe_mc_mid1 = host_probe_mc_sec()

    # transform() declares the lazy warehouse DAG; load() is the ONE
    # materialization (parquet write ≙ the reference's eager in-memory
    # DataFrames + MySQL append). Timing them together against the pandas
    # extract+transform anchor is the apples-to-apples comparison — the
    # reference's transform also materialized every table exactly once.
    t2 = time.time()
    pipe.transform()
    pipe.load()
    t_build = time.time() - t2

    # mid-run probe pair #2: after the anchor-compared section, before
    # the digest walk + validate
    probe_mid2 = host_probe_sec()
    probe_mc_mid2 = host_probe_mc_sec()

    # drift witness over the 18 declared warehouse DAGs: normalized
    # formatted plans, hashed in table-name order (same normalizer as
    # tools/registry_digest.py, with the run's scratch dirs tokenized
    # out so the digest is session-independent)
    wh_digest = _warehouse_digest(pipe.warehouse, base)

    t4 = time.time()
    results = pipe.validate()
    t_validate = time.time() - t4

    from fitness_nutrition_data_pipeline_spark.report import build_report

    report = build_report(results, list(pipe.sources.keys()), pipe.mapping.count())
    et_total = t_convert + t_extract + t_build
    # self-annotating host-regime witness (same protocol as bench.py's
    # probe_sec): a fixed CPU spin whose wall-clock calibrates the host,
    # so every e2e reading carries its own noise adjudication
    line = json.dumps(
        {
            "metric": "pipeline_e2e",
            "unit": "sec",
            "probe_sec_pre": probe_pre,
            "probe_mc_sec_pre": probe_mc_pre,
            # mid-run pairs (ask r15 #6): #1 after extract, #2 after
            # transform+load — the anchor-compared section is bracketed
            # by (mid1, mid2), so its regime is witnessed directly
            "probe_sec_mid1": probe_mid1,
            "probe_mc_sec_mid1": probe_mc_mid1,
            "probe_sec_mid2": probe_mid2,
            "probe_mc_sec_mid2": probe_mc_mid2,
            "probe_sec": host_probe_sec(),
            # 8-way forked spin: effective-parallelism witness; the
            # single-core probe proved blind to r13's multi-core-only
            # degradation (VERDICT r13 ask #8)
            "probe_mc_sec": host_probe_mc_sec(),
            "plan_digest": wh_digest,
            "xlsx_convert_s": round(t_convert, 3),
            "extract_s": round(t_extract, 3),
            "transform_load_s": round(t_build, 3),
            "extract_transform_total_s": round(et_total, 3),
            "pandas_anchor_extract_transform_s": 9.75,
            "vs_anchor": round(et_total / 9.75, 2),
            "validate_s": round(t_validate, 3),
            "total_rows": sum(report["table_counts"].values()),
            "quality_score": report["validation"]["quality_score"],
        }
    )
    print(line)
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
        with open(out_path, "w") as f:
            f.write(line + "\n")
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
