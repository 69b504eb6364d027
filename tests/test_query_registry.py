"""The driver contract registers every query one way, checked without
Spark: each ``q_*`` defined in an operator module or in
``__spark_entry__`` is paired with the same-named SQL builder of its
oracle module, and ``_WINDOW`` leads both dicts."""

from __future__ import annotations

import ast

import __spark_entry__ as entrymod
from tests.conftest import REPO

OPERATORS = REPO / "clinicaltransformerrelationextraction_spark" / "operators"


def _defined_queries() -> set[str]:
    """Every top-level ``q_*`` def or assignment of the operator modules
    and of ``__spark_entry__``."""
    names = set()
    for path in [*sorted(OPERATORS.glob("*.py")), REPO / "__spark_entry__.py"]:
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                names.add(node.name)
            elif isinstance(node, ast.Assign):
                names.update(t.id for t in node.targets
                             if isinstance(t, ast.Name))
    return {n for n in names if n.startswith("q_")}


def test_queries_and_oracle_sql_have_the_same_keys():
    qs, sqls = entrymod.queries(), entrymod.oracle_sql()
    assert list(qs) == list(sqls)
    assert len(qs) == 98
    assert all(callable(q) for q in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in sqls.values())


def test_window_leads_in_order():
    window = entrymod._WINDOW
    assert len(window) == len(set(window)) == 50
    assert list(entrymod.queries())[:50] == window
    assert list(entrymod.oracle_sql())[:50] == window


def test_every_defined_query_is_registered():
    assert _defined_queries() == set(entrymod.queries())
