"""Per-gate layered profile: where each gate's time goes, build to last row.

    python tools/gate_profile.py [headline|panel|all|<gate> ...] [--sf 0.001|0.01|0.1] [--out PATH]

Runs the gates on ``perfbench.harness``'s ``Bench`` in the cold mode:
every pass builds each gate on a fresh, checksum-pinned copy of the
``perfbench/data`` fixtures. One warm-up pass, then plain, traced,
traced, plain. ``queries`` is each gate's min over the plain passes,
``value`` their sum, ``layers`` the harness's per-gate record from
Spark's event log (median of the traced passes), and ``steal_pct`` the
CPU share the hypervisor gave other guests during each timed pass.

``panel`` writes ``BENCH_PANEL2.json``; ``headline`` (``bench.HEADLINE``)
and ``all`` (the registry minus the ``a0_*`` aliases) write
``PROFILE_<set>.json``; named gates print only, unless ``--out`` is given.
Exits 1 when a gate raised: it is listed under ``errors``, -1.0 in ``queries``.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PANEL = [
    "graph_pagerank_converged",   # iterative: checkpointed loop + unrolled oracle
    "sql_recursive_bfs",          # recursive-CTE BFS (UnionLoop plan)
    "text_bpe_merge_train",       # iterative BPE merge training
    "sim_ivf_pq",                 # composed IVF-PQ ANN stack
    "sim_kmeans_lloyd",           # bit-exact Lloyd iterations
    "text_dedup_clusters_sliced", # sliced label-propagation dedup
    "agg_median_bisect",          # two-pass radix selection
    "stream_windowed_agg",        # streaming windowed aggregation drain
    "mm_interleaved_pack",        # multimodal training-sample assembler
    "text_substring_dedup_clean", # Lee-et-al substring dedup + clean
]
PROTOCOL = (
    "cold, builder-inclusive: fresh fixture copy per pass, 1 warm-up pass, then plain/traced/traced/plain; "
    "queries = min of the 2 plain passes, layers = median of the 2 traced passes; "
    "not comparable with the warm-session min-of-3 used before this tool"
)


def headline() -> list[str]:
    """``bench.HEADLINE``, read from the source: importing ``bench`` sets
    its session-shape environment defaults, which would change the
    session being profiled."""
    with open(os.path.join(ROOT, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(getattr(t, "id", None) == "HEADLINE" for t in node.targets):
            return ast.literal_eval(node.value)
    raise RuntimeError("bench.py defines no HEADLINE list")


def profile(gates: list[str] | None, sf: float, metric: str) -> dict:
    """Profile ``gates`` (None: every registered gate but the aliases)."""
    from perfbench import fixtures, harness

    errors: set[str] = set()

    class Bench(harness.Bench):
        """Records which gate raised; ``Bench`` itself only counts failures."""

        def _run_gate(self, gate, sf_dir):
            try:
                super()._run_gate(gate, sf_dir)
            except Exception:
                errors.add(gate)
                raise

    run_dir = os.path.join(ROOT, ".perfbench_work", f"profile-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    bench = None
    try:
        env = harness.prepare_env(run_dir, trace=True)
        if gates is None:  # the package may be imported only after prepare_env
            from big_data_flight_spark.registry import _REGISTRY, _load_all_operator_modules

            _load_all_operator_modules()
            gates = sorted(n for n in _REGISTRY if not n.startswith("a0_"))
        w = harness.Workload(metric, tuple(gates), sf, "cold", warmup_passes=1)
        bench = Bench(w, 0, 0, True, fixtures.source(sf), run_dir, env["eventlog"])
        bench.setup()
        bench.measure()
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [p for p in bench.passes if not p["warmup"]]
    queries = {
        g: -1.0 if g in errors else round(min(p["gate_s"][g] for p in timed if not p["traced"]), 3)
        for g in gates
    }
    keys = [k for k in harness.PER_LAYER if not k.startswith("trace.")]
    out = {
        "metric": metric,
        "value": round(sum(t for t in queries.values() if t >= 0), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cores": harness.cores(),
        "protocol": PROTOCOL,
        "steal_pct": [round(p["steal_pct"], 2) for p in timed],
        "unattributed_jobs": bench.layers["unattributed_jobs"],
        "layers": {
            g: {k: round(m.get(k, 0), 3) for k in keys}
            for g, m in bench.layers["per_gate"].items()
        },
    }
    if errors:
        out["errors"] = sorted(errors)
    return out


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("gates", nargs="*", default=["panel"], help="a set (headline, panel, all) or gate names")
    p.add_argument("--sf", type=float, choices=(0.001, 0.01, 0.1), default=0.1)
    p.add_argument("--out", help="where to write the JSON (default: the set's own file)")
    args = p.parse_args(argv)

    gates, out = args.gates, args.out
    if gates == ["panel"]:
        gates, metric = PANEL, f"panel2_{len(PANEL)}q_total_sec"
        out = out or os.path.join(ROOT, "BENCH_PANEL2.json")
    elif gates in (["headline"], ["all"]):
        name = gates[0]
        gates, metric = headline() if name == "headline" else None, f"profile_{name}_total_sec"
        out = out or os.path.join(ROOT, f"PROFILE_{name}.json")
    else:
        metric = f"profile_{len(gates)}q_total_sec"

    result = profile(gates, args.sf, metric)
    print(json.dumps(result))
    if out:
        with open(out, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
    return 1 if "errors" in result else 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main(sys.argv[1:]))
