"""Mechanical staleness audit of driver-evidence rows (VERDICT r9 #1).

The driver's correctness gate samples only the 50 alphabetically-first
gate names per round; `operators/aliases.py` rotates targets through
that window with zero-code ``a0_`` delegating aliases. The row of
record for a gate is therefore the LATEST round in which the gate (or
one of its per-round aliases) appears green in CORRECTNESS_r{NN}.json.

VERDICT r9 found the r8/r9 purge queue undercounted the stale backlog
13x because it treated only r<=3 rows as stale — but the r7 fixture
regeneration makes EVERY r1-r6 row pre-current-fixtures evidence.
This tool recomputes, mechanically and de-aliased through each round's
COMMITTED alias map (read from git at the round's verdict commit), the
latest green driver round per registered gate, and prints the stale
cohort oldest-first. Run it before composing any rotation in
aliases.py; tests/test_scale_patterns.py pins each round's window
against that round's output snapshot (tests/stale_rows_r{NN}.json —
pass the round number as argv[1], default the latest CORRECTNESS
round present, so re-runs never clobber a prior round's committed pin;
ADVICE r10).

Run it TWICE per round (CLAUDE.md invariant 3): once at round START —
before any newborn registers — to produce the snapshot the rotation
is composed against and the pin test reads (the committed version of
record), and once at STAMP time as a CHECK: the stamp-time output may
differ from the committed snapshot ONLY by the round's own newborns
(never driver-graded yet, shown as r0 rows — they hold window slots
via _NEW_GATE_ALIASES and get their rows when the driver grades the
round). If the diff shows anything else, the backlog drifted from the
schedule — investigate before committing. Do NOT overwrite the
committed round-start snapshot with the stamp-time output.

Known approximation (ADVICE r10): de-aliasing uses the alias map at
each round's VERDICT commit, not at the commit that produced each
CORRECTNESS artifact. Aliases were re-pointed mid-round once (r9 slot
45: the verdict-commit map is the one the driver actually graded
under, because the driver grades at round END — after all in-round
re-points — so the verdict-commit map is the LAST map of the round
and matches the grading map whenever the artifact is produced at
round end, which is the driver's contract). If a future driver ever
grades mid-round, switch `_alias_map_at` to the artifact's own commit.
"""

from __future__ import annotations

import ast
import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Fixture regeneration boundary: rows from rounds < CURRENT_FIXTURE_ROUND
# predate the current /root/testdata parquet and are "stale evidence".
CURRENT_FIXTURE_ROUND = 7


def _verdict_commits() -> dict[int, str]:
    out = subprocess.run(
        ["git", "log", "--format=%H %s"], cwd=REPO, capture_output=True, text=True
    ).stdout
    commits: dict[int, str] = {}
    for line in out.splitlines():
        m = re.match(r"([0-9a-f]{40}) round (\d+): verdict", line)
        if m and int(m.group(2)) not in commits:
            commits[int(m.group(2))] = m.group(1)
    return commits


def _alias_map_at(commit: str) -> dict[str, str]:
    """Parse _ALIASES / _NEW_GATE_ALIASES dict literals from aliases.py
    as committed at `commit`. Returns {} when the file didn't exist."""
    proc = subprocess.run(
        ["git", "show", f"{commit}:big_data_flight_spark/operators/aliases.py"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        return {}
    tree = ast.parse(proc.stdout)
    out: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            if any(n in ("_ALIASES", "_NEW_GATE_ALIASES") for n in names):
                if isinstance(node.value, ast.Dict):
                    for k, v in zip(node.value.keys, node.value.values):
                        if isinstance(k, ast.Constant) and isinstance(v, ast.Constant):
                            out[k.value] = v.value
    return out


def latest_green_rounds() -> dict[str, int]:
    """gate -> latest round with a fully-green de-aliased driver row."""
    commits = _verdict_commits()
    latest: dict[str, int] = {}
    for n in sorted(commits):
        art = REPO / f"CORRECTNESS_r{n:02d}.json"
        if not art.exists():
            continue
        amap = _alias_map_at(commits[n])
        rows = json.loads(art.read_text())
        for key, row in rows.items():
            if row.get("err") is not None:
                continue
            if not (row.get("rows_match") and row.get("schema_match")):
                continue
            # hash_match is absent on oracle-less rows-only checks
            if row.get("hash_match") is False:
                continue
            gate = amap.get(key, key)
            latest[gate] = max(latest.get(gate, 0), n)
    return latest


def _snapshot_round() -> int:
    """Round number for the snapshot filename: the first non-flag
    argv if given (flags like --write/--check must not be parsed as a
    round — r11 review), else the latest CORRECTNESS_r{NN}.json
    present (the audit counts rows through that round, so the snapshot
    is 'the backlog entering round NN+1' and is committed as
    tests/stale_rows_r{NN+1}.json by the rotation that consumes it: the
    snapshot named for round NN+1 pins the window built from the
    r1..rNN rows)."""
    for a in sys.argv[1:]:
        if not a.startswith("--"):
            try:
                return int(a)
            except ValueError:
                print(
                    f"usage: python tools/staleness.py [ROUND] [--check|--write]"
                    f"\n  ROUND must be an integer; got {a!r}",
                    file=sys.stderr,
                )
                raise SystemExit(2) from None
    latest = 0
    for p in REPO.glob("CORRECTNESS_r*.json"):
        m = re.match(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            latest = max(latest, int(m.group(1)))
    return latest + 1


def _newest_snapshot() -> Path | None:
    best: tuple[int, Path] | None = None
    for p in (REPO / "tests").glob("stale_rows_r*.json"):
        m = re.match(r"stale_rows_r(\d+)\.json", p.name)
        if m and (best is None or int(m.group(1)) > best[0]):
            best = (int(m.group(1)), p)
    return best[1] if best else None


def main() -> None:
    sys.path.insert(0, str(REPO))
    from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules

    _load_all_operator_modules()
    gates = sorted(n for n, q in _REGISTRY.items() if "alias" not in q.tags)
    latest = latest_green_rounds()
    stale = sorted(
        ((latest.get(g, 0), g) for g in gates if latest.get(g, 0) < CURRENT_FIXTURE_ROUND),
    )
    fresh = [g for g in gates if latest.get(g, 0) >= CURRENT_FIXTURE_ROUND]
    never = [g for g, r in stale if r == 0]
    print(f"registered distinct gates : {len(gates)}")
    print(f"fresh rows (r>={CURRENT_FIXTURE_ROUND})        : {len(fresh)}")
    print(f"stale rows (r<{CURRENT_FIXTURE_ROUND})         : {len(stale)}")
    if never:
        print(f"NEVER driver-graded       : {never}")
    print("\nstale cohort, oldest-first (round, gate):")
    for r, g in stale:
        print(f"  r{r}  {g}")
    snap = {g: r for r, g in stale}
    out = REPO / "tests" / f"stale_rows_r{_snapshot_round():02d}.json"
    payload = json.dumps({"fixture_round": CURRENT_FIXTURE_ROUND, "stale": snap},
                         indent=1, sort_keys=True) + "\n"
    # --check (the stamp-time invocation CLAUDE.md invariant 3 names)
    # always compares against the NEWEST committed snapshot and never
    # writes — robust to the driver's CORRECTNESS artifact landing
    # before the stamp run, which would otherwise shift the default
    # round forward and silently take the write branch (r11 review).
    check_target = _newest_snapshot() if "--check" in sys.argv else (
        out if out.exists() and "--write" not in sys.argv else None
    )
    if check_target is not None:
        out = check_target
        # Stamp-time CHECK mode (module docstring): the committed
        # round-start snapshot is the rotation pin's source of truth;
        # the only acceptable delta is this round's own newborns
        # (never-graded r0 rows holding window slots via
        # _NEW_GATE_ALIASES). Anything else = backlog drift.
        committed = json.loads(out.read_text())["stale"]
        extra = {g: r for g, r in snap.items() if g not in committed}
        missing = {g: r for g, r in committed.items() if g not in snap}
        changed = {g: (committed[g], r) for g, r in snap.items()
                   if g in committed and committed[g] != r}
        drift = missing or changed or any(r != 0 for r in extra.values())
        print(f"\nstamp-time check vs committed {out.name}:")
        print(f"  newborn r0 rows (expected): {sorted(extra) if extra else '[]'}")
        if drift:
            print(f"  DRIFT — missing: {missing}  changed: {changed}")
            raise SystemExit(2)
        print("  OK — no drift (snapshot left untouched; --write to overwrite)")
        return
    out.write_text(payload)
    print(f"\nsnapshot written: {out}")


if __name__ == "__main__":
    main()
