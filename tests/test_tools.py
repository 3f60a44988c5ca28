"""Spark-free checks on ``tools/``: every script compiles and every tool it
imports or runs exists; ``tools/ab.py``'s side parsing, run-output parsing
and summary arithmetic."""

from __future__ import annotations

import ast
import importlib.util
import os
import re

import pytest

from tools import ab

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
SCRIPTS = sorted(f for f in os.listdir(TOOLS) if f.endswith(".py"))


def _tool_refs(src: str) -> tuple[list[str], list[str]]:
    """(tools modules imported, tools/X.py paths run) by one script."""
    tree = compile(src, "<tool>", "exec", ast.PyCF_ONLY_AST)
    mods = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            mods.append(node.module)
        elif isinstance(node, ast.Import):
            mods += [a.name for a in node.names]
    imported = []
    for m in mods:
        top, _, rest = m.partition(".")
        if top == "tools":
            imported.append(rest.split(".")[0])
        elif os.path.exists(os.path.join(TOOLS, f"{top}.py")) or importlib.util.find_spec(top) is None:
            # a bare import that is not an installed module is a sibling script
            imported.append(top)
    return imported, re.findall(r"""["']tools/(\w+)\.py""", src)


@pytest.mark.parametrize("script", SCRIPTS)
def test_tool_compiles_and_its_tools_exist(script):
    with open(os.path.join(TOOLS, script)) as fh:
        src = fh.read()
    compile(src, script, "exec")
    imported, run = _tool_refs(src)
    missing = [m for m in imported + run if not os.path.exists(os.path.join(TOOLS, f"{m}.py"))]
    assert not missing, f"{script} uses deleted tools: {missing}"


def test_tool_refs_catch_a_deleted_sibling():
    src = "from scale_gone_run import _vec\nimport tools.also_gone\nrun(['tools/gone.py'])\nimport json\n"
    imported, run = _tool_refs(src)
    assert imported == ["scale_gone_run", "also_gone"]
    assert run == ["gone"]


def test_ab_parse_side():
    assert ab.parse_side("HEAD:8") == ("HEAD", 8)
    assert ab.parse_side(".") == (".", None)
    assert ab.parse_side(".:32") == (".", 32)
    assert ab.parse_side("a6a510b") == ("a6a510b", None)


def test_ab_summary_on_fixed_numbers():
    a = [{"total": 10.0, "x": 1.0, "stream_events_per_sec": 100, "old_only": 1},
         {"total": 12.0, "x": 2.0, "stream_events_per_sec": 200, "old_only": 1},
         {"total": 14.0, "x": 3.0, "stream_events_per_sec": 300, "old_only": 1},
         {"total": 16.0, "x": 4.0, "stream_events_per_sec": 400, "old_only": 1},
         {"total": 18.0, "x": 5.0, "stream_events_per_sec": 500, "old_only": 1}]
    b = [{"total": 9.0, "x": 1.0, "stream_events_per_sec": 110, "new_only": 2},
         {"total": 13.0, "x": 1.0, "stream_events_per_sec": 180, "new_only": 2},
         {"total": 12.6, "x": 6.0, "stream_events_per_sec": 330, "new_only": 2},
         {"total": 14.4, "x": 8.0, "stream_events_per_sec": 440, "new_only": 2},
         {"total": 20.0, "x": 0.5, "stream_events_per_sec": 400, "new_only": 2}]
    out = {s["metric"]: s for s in ab.summarize(a, b, {"x": "higher"})}
    # metrics are the intersection of the two sides' keys, in A's order
    assert list(out) == ["total", "x", "stream_events_per_sec"]

    t = out["total"]  # a wall: lower is better
    assert t["better"] == "lower"
    assert t["A"] == {"q1": 12.0, "median": 14.0, "q3": 16.0}
    assert t["B"] == {"q1": 12.6, "median": 13.0, "q3": 14.4}
    # ratios 0.9, 13/12, 0.9, 0.9, 20/18
    assert t["ratio_median"] == 0.9
    assert t["b_better"] == "3/5"

    x = out["x"]  # BENCHMARK.json direction wins over the name rule
    assert x["better"] == "higher"
    assert x["b_better"] == "2/5"  # the 1.0 vs 1.0 tie counts for neither
    assert x["ratio_median"] == 1.0  # ratios 1, .5, 2, 2, .1

    e = out["stream_events_per_sec"]
    assert e["better"] == "higher"
    assert e["b_better"] == "3/5"
    assert e["A"]["median"] == 300 and e["B"]["median"] == 330


def test_ab_quantiles_single_run():
    s = ab.summarize([{"w": 2.0}], [{"w": 1.0}], {})[0]
    assert s["A"] == {"q1": 2.0, "median": 2.0, "q3": 2.0}
    assert s["ratio_median"] == 0.5 and s["b_better"] == "1/1"


def test_ab_metrics_of_run_output():
    bench = ('# x05: 0.60s\n{"metric": "m", "value": 3.0, "queries": {"x05": 0.6}, '
             '"stream_events_per_sec": 5, "raw_walls": {"x05": [0.6]}}\n')
    assert ab.metrics_of("bench", bench) == ({"total": 3.0, "x05": 0.6, "stream_events_per_sec": 5}, None)
    perf = ('{"workload": "market_batch", "samples": 3}\n{"correct": true, "attempted": 20, "failed": 1, '
            '"metrics": {"setup_s": {"value": 21.5, "unit": "s"}}}\n')
    assert ab.metrics_of("market_batch", perf) == ({"setup_s": 21.5}, {"failed": 1, "attempted": 20})
