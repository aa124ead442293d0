"""Regenerate tests/slow_tests.txt from measured durations.

Run the full suite with the duration recorder on:

    KNOVEXLITE_SLOW_TESTS=1 KNOVEXLITE_WRITE_DURATIONS=1 \
        python -m pytest tests/ -q

then:

    python scripts/gen_slow_list.py [threshold_sec]

Tests whose TOTAL duration (setup + call + teardown) meets the
threshold (default 2.5 s) land on the slow tier, which the default
run skips (tests/conftest.py) so the round driver's pytest budget is
never exceeded again (round-16 VERDICT #1).  The builder's own gate
runs everything with KNOVEXLITE_SLOW_TESTS=1.

Some tests never land on the slow tier, whatever they measure: the
graph-database core (the lstr parser and the query, ranking and
training paths), whose every default code path the default run must
exercise, and one parity pin of the gk kernel merge that gk_summary
runs by default.
"""

from __future__ import annotations

import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TESTS = os.path.join(_ROOT, "tests")


PIN_MARKER = "# --- PINNED (kept verbatim across regenerations) ---"

ALWAYS_RUN_FILES = {
    "test_cqd.py",
    "test_efo_exact.py",
    "test_kge.py",
    "test_language.py",
    "test_lmpnn.py",
    "test_losses.py",
    "test_metric.py",
    "test_qaa_pipeline.py",
    "test_train.py",
}
ALWAYS_RUN_TESTS = {
    "test_core_boundary.py::test_core_imports_load_no_curation_module",
    "test_core_boundary.py::test_every_script_imports",
    "test_engine_api.py::test_efo_augmented_inverse_query",
    "test_engine_api.py::test_efo_below_gate_runs_no_spark_job",
    "test_engine_api.py::test_efo_concurrent_first_calls_build_adjacency_once",
    "test_engine_api.py::test_efo_empty_answer_keeps_schema",
    "test_engine_api.py::test_efo_errors_match_on_both_paths",
    "test_engine_api.py::test_efo_gate_and_row_cap_fallbacks_match_local",
    "test_engine_api.py::test_triples_with_inverses_pairs_each_edge_with_its_twin",
    "test_graph_ops.py::test_propagate_one_step",
    "test_graph_ops.py::test_bfs_layers",
    "test_graph_ops.py::test_bfs_on_bridge_graph",
    "test_plan_shapes.py::test_anchored_efo_pushes_constant_filter",
    "test_plan_shapes.py::test_batched_atom_joins_broadcast_the_instance_side",
    "test_plan_shapes.py::test_densify_dense_triples_stay_inside_id_space",
    "test_plan_shapes.py::test_densify_entities_no_single_partition_exchange",
    "test_plan_shapes.py::test_graph_loop_frontier_joins_broadcast",
    "test_quantile.py::test_gk_summary_kernel_vs_sql_paths",
}


def always_runs(test_id: str) -> bool:
    return (
        test_id.split("::")[0] in ALWAYS_RUN_FILES
        or test_id.split("[")[0] in ALWAYS_RUN_TESTS
    )


def main() -> None:
    threshold = float(sys.argv[1]) if len(sys.argv) > 1 else 2.5
    with open(os.path.join(_TESTS, ".durations.json")) as f:
        durations = json.load(f)
    # a PINNED block (fixture-dependency closures etc. — tests whose
    # own measured duration is small because a shared expensive fixture
    # was charged elsewhere) survives regeneration verbatim
    pinned = ""
    list_path = os.path.join(_TESTS, "slow_tests.txt")
    if os.path.exists(list_path):
        with open(list_path) as f:
            text = f.read()
        if PIN_MARKER in text:
            pinned = text[text.index(PIN_MARKER):]
    slow = sorted(
        (t, d)
        for t, d in durations.items()
        if d >= threshold and not always_runs(t)
    )
    total = sum(durations.values())
    cut = sum(d for _, d in slow)
    with open(list_path, "w") as f:
        f.write(
            "# Measured slow tier (generated by scripts/gen_slow_list.py;"
            "\n"
            f"# threshold {threshold}s).  The default pytest run SKIPS "
            "these so the\n# round driver's budget holds; run them with "
            "KNOVEXLITE_SLOW_TESTS=1.\n"
        )
        for t, d in slow:
            f.write(f"{t}\n")
        if pinned:
            f.write(pinned if pinned.endswith("\n") else pinned + "\n")
    print(
        f"{len(slow)}/{len(durations)} tests >= {threshold}s: "
        f"cuts {cut:.0f}s of {total:.0f}s "
        f"(default run ~{total - cut:.0f}s, plus the pinned block)"
    )


if __name__ == "__main__":
    main()
