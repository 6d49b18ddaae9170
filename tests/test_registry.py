"""The query registry against its own rules and against COVERAGE.md.

COVERAGE.md names each gate with its kind (♦ = DuckDB oracle, ○ =
rows-only); these tests keep that table and `queries.REGISTRY` in step,
so no document has to copy counts by hand.
"""

import ast
import os
import re

from lidartree_spark import queries as q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARK = re.compile(r"([♦○])\s*`?([a-z][a-z0-9_]*)`?")


def _coverage_marks() -> list[tuple[str, str]]:
    with open(os.path.join(REPO, "COVERAGE.md"), encoding="utf-8") as f:
        return MARK.findall(f.read())


def test_every_documented_gate_is_registered_with_its_kind():
    for mark, name in _coverage_marks():
        assert name in q.REGISTRY, f"COVERAGE.md names unknown gate {name}"
        has_oracle = q.REGISTRY[name][1] is not None
        assert has_oracle == (mark == "♦"), \
            f"COVERAGE.md marks {name} {mark}, registry disagrees"


def test_every_registered_query_is_documented():
    documented = {name for _, name in _coverage_marks()}
    missing = sorted(set(q.queries()) - documented)
    assert not missing, f"not in COVERAGE.md with ♦/○: {missing}"


def test_driver_oracle_budget():
    # the driver's correctness harness records at most 50 oracle rows
    assert len(q.oracle_sql()) <= 50
    for name, (_, duck, tier) in q.REGISTRY.items():
        assert tier in (q.DRIVER, q.LOCAL), name
        assert duck is not None or tier == q.LOCAL, name


def test_each_query_is_registered_once():
    # a repeated key in the REGISTRY literal would silently drop a gate
    with open(q.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    reg = next(node.value for node in tree.body
               if isinstance(node, ast.AnnAssign)
               and getattr(node.target, "id", None) == "REGISTRY")
    keys = [k.value for k in reg.keys]
    assert len(keys) == len(set(keys)) == len(q.queries())
