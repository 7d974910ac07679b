"""r13 (VERDICT r12 #5): the r12 residual plan sweep promoted to a
permanent guard.

The sweep itself runs at round-stamp time (it builds every gate,
~minutes) and commits its artifact under plans/r<N>/; these tests
(a) unit-pin the sweep's analyzers, INCLUDING intentional violations
    of each check so a silently-dead check fails the suite, and
(b) validate the NEWEST committed artifact: a new flag class in the
    residual sweep fails pytest — the radar can no longer silently
    rot (ADVICE r12 #1 closed: the two documented-but-unimplemented
    checks are real code now, pinned here).
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import sys

if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools.residual_sweep import analyze_plan, validate_report  # noqa: E402

# ---------------------------------------------------------------------------
# Analyzer unit pins (no Spark needed)
# ---------------------------------------------------------------------------

_CLEAN_PLAN = """== Physical Plan ==
* HashAggregate (4)
+- Exchange (3)
   +- * Filter (2)
      +- Scan parquet  (1)


(1) Scan parquet
Output [2]: [a#1L, b#2]
PushedFilters: [IsNotNull(a)]
ReadSchema: struct<a:bigint,b:double>

(2) Filter
Input [2]: [a#1L, b#2]
"""

_GENERATE_INLINE_PLAN = """== Physical Plan ==
* Generate (2)
+- Scan parquet  (1)


(1) Scan parquet
Output [1]: [text#1]
PushedFilters: []
ReadSchema: struct<text:string>

(2) Generate
Arguments: explode(transform(split(lower(text#1),  , -1), x -> concat(x, x))), [doc#0L], false, [tok#5]
"""

_GENERATE_BARE_PLAN = _GENERATE_INLINE_PLAN.replace(
    "explode(transform(split(lower(text#1),  , -1), x -> concat(x, x)))",
    "explode(toks#9)",
)

_NOPUSHDOWN_PLAN = """== Physical Plan ==
* Project (4)
+- * Filter (3)
   +- * ColumnarToRow (2)
      +- Scan parquet  (1)


(1) Scan parquet
Output [3]: [a#1L, b#2, c#3]
PushedFilters: []
ReadSchema: struct<a:bigint,b:double,c:string>

(2) ColumnarToRow
Input [3]: [a#1L, b#2, c#3]

(3) Filter
Input [3]: [a#1L, b#2, c#3]
Condition : (isnotnull(a#1L) AND (a#1L > 5))
"""


def test_clean_plan_no_flags():
    assert analyze_plan(_CLEAN_PLAN) == []


def test_generate_inline_trips():
    """Intentional violation: a Generate whose generator argument is a
    non-trivial expression (the r10 clone signature) must flag."""
    assert "GENERATE_INLINE" in analyze_plan(_GENERATE_INLINE_PLAN)


def test_generate_bare_ref_does_not_trip():
    assert "GENERATE_INLINE" not in analyze_plan(_GENERATE_BARE_PLAN)


def test_nopushdown_trips():
    """Intentional violation: Filter directly above a multi-column scan
    with empty PushedFilters must flag."""
    assert "NOPUSHDOWN" in analyze_plan(_NOPUSHDOWN_PLAN)


def test_bnlj_and_python_nodes_still_flag():
    plan = "BroadcastNestedLoopJoin\nArrowEvalPython\nExchange SinglePartition"
    flags = analyze_plan(plan)
    assert "BNLJ" in flags and "PY:ArrowEvalPython" in flags
    assert any(f.startswith("SINGLEPART") for f in flags)


def test_validator_passes_bounded_classes_and_fails_new_ones():
    ok = {"g1": {"flags": ["BNLJ", "PY:MapInPandas", "SINGLEPART:1"]}}
    assert validate_report(ok) == {}
    bad = {"g2": {"flags": ["BNLJ", "GENERATE_INLINE"]},
           "g3": {"flags": ["NOPUSHDOWN"]},
           "g4": {"flags": ["BUILD_ERROR:KeyError"]}}
    got = validate_report(bad)
    assert set(got) == {"g2", "g3", "g4"}
    assert got["g2"] == ["GENERATE_INLINE"]


# ---------------------------------------------------------------------------
# Committed-artifact guards
# ---------------------------------------------------------------------------


def _newest(pattern: str) -> str | None:
    paths = []
    for p in glob.glob(os.path.join(REPO, "plans", "r*", pattern)):
        m = re.search(r"plans/r(\d+)/", p.replace("\\", "/"))
        if m:
            paths.append((int(m.group(1)), p))
    return max(paths)[1] if paths else None


def test_committed_residual_sweep_has_only_bounded_classes():
    path = _newest("residual_sweep.json")
    assert path, "no committed residual sweep artifact"
    with open(path) as fh:
        report = json.load(fh)
    assert len(report) >= 290, "sweep did not cover the registry"
    bad = validate_report(report)
    assert not bad, f"flags outside documented bounded classes: {bad}"

