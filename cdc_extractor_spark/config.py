"""Monitored-table-group config.

Reference analog: ``Config.java:8-27`` — named groups of monitored
source tables, selected by ``-Dtables=``, interpolated as pre-quoted SQL
fragments into queries (``CoordinatorRunnable.java:35-36``).

Two deliberate fixes over the reference (SURVEY.md §1.2, §2 bug list):

1. Groups are Python lists, never SQL strings — this removes both the
   SQL-injection-by-construction pattern and the reference's
   ``Config.java:16-17`` missing-comma bug that silently fused
   ``'bmsql_order_line''bmsql_stock'`` into one unmatchable literal in
   the ``"all"`` group.
2. Membership is applied with ``Column.isin(*group)``, which Catalyst
   compiles to an ``In`` predicate pushed into the scan.
"""

from __future__ import annotations

# The reference monitors TPC-C/BenchmarkSQL tables.  Our fixtures use the
# events.event_type domain as the stand-in filter domain (FIXTURES.md),
# with the original bmsql names kept for documentation parity.
BMSQL_TABLES = (
    "bmsql_customer",
    "bmsql_warehouse",
    "bmsql_district",
    "bmsql_history",
    "bmsql_item",
    "bmsql_new_order",
    "bmsql_oorder",
    "bmsql_order_line",
    "bmsql_stock",
)

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

TABLE_GROUPS: dict[str, tuple[str, ...]] = {
    # correct "all" group (the reference's is broken — see module docstring)
    "all": EVENT_TYPES,
    "first": ("click", "view"),
    "second": ("purchase", "signup"),
    "third": ("error",),
}

