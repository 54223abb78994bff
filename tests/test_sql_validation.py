"""validate_sql's parse and relation-walk layers fail closed on the
errors they can meet, and only on those."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JError

from magictables_spark.llm import _walk_relations, validate_sql


def test_non_parsing_statement_is_rejected_as_unparseable(spark):
    with pytest.raises(ValueError, match="SQL does not parse"):
        validate_sql("SELECT * FROM (", spark=spark, allowed_tables={"df"})


class _Seq:
    def __init__(self, items):
        self.items = items

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


class _Node:
    """Stand-in for a parsed py4j plan node."""

    def __init__(self, name, children=(), broken_subqueries=False):
        self.name, self.kids, self.broken = name, list(children), broken_subqueries

    def getClass(self):
        return self

    def getSimpleName(self):
        return self.name

    def children(self):
        return _Seq(self.kids)

    def subqueries(self):
        if self.broken:
            raise Py4JError("subqueries() failed")
        return _Seq([])


def test_node_with_unwalkable_subqueries_rejects_the_statement():
    plan = _Node("Project", [_Node("Filter", broken_subqueries=True)])
    with pytest.raises(ValueError, match="could not verify table references"):
        _walk_relations(plan)
