"""tools/dump_plans.py: PLANS.md sections renumber the per-process ids of a
plan, so regenerating the file shows only real plan changes."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "dump_plans", Path(__file__).resolve().parent.parent / "tools" / "dump_plans.py"
)
dump_plans = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(dump_plans)


def test_renumber_lambda_names_by_first_appearance():
    plan = (
        "transform(a#41, lambdafunction((lambda y_439 + lambda x_13), lambda y_439, false)) "
        "AS events_0#42, filter(b#43, lambdafunction(lambda x_13 > 0, lambda x_13, false)) "
        "AS x_130#44"
    )
    assert dump_plans._renumber(plan) == (
        "transform(a#0, lambdafunction((lambda y_0 + lambda x_1), lambda y_0, false)) "
        "AS events_0#1, filter(b#2, lambdafunction(lambda x_1 > 0, lambda x_1, false)) "
        "AS x_130#3"
    )
