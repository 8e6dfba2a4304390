"""Seeded TPC-H-shaped tables and the delta batches the workloads feed.

Every row is a pure function of ``(seed, table, id)``: the base table
holds ids ``0 .. n-1``, an insert takes the next unused id (a fresh key)
and a delete names a live id, whose row is rebuilt from the same
expressions, so it matches the base row exactly.  An update is a delete
of a live id plus an insert of a fresh one.  ``World`` tracks the live ids
of every table, so the benchmark can build the true final tables for the
correctness gate without asking the engine.

Schemas follow the sf0.1 fixtures; row counts are set per table (see
``_specs``).  Money columns are integer-valued doubles, so sums of them
are exact in any order and maintained views compare exactly with a
recompute.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

MULT = "_duckdb_ivm_multiplicity"


def _h(seed: int, salt: int, mod: int) -> str:
    """Deterministic pseudo-random integer in [0, mod) per row id."""
    return f"pmod(xxhash64(id, {seed}, {salt}), {mod})"


def _pick(seed: int, salt: int, values: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{v}'" for v in values)
    return f"element_at(array({arr}), cast({_h(seed, salt, len(values))} AS int) + 1)"


@dataclass(frozen=True)
class TableSpec:
    name: str
    rows: int
    columns: tuple[tuple[str, str], ...]  # (column, SQL over the row id)

    def exprs(self) -> list[str]:
        return [f"{e} AS {c}" for c, e in self.columns]


def _specs(scale: float, s: int) -> dict[str, TableSpec]:
    """Table specs.  customer, orders and lineitem hold ``scale`` times
    their sf0.1 row counts, and foreign-key ranges shrink with the
    referenced table.  The theta partners keep more than 10k rows (the
    rewrite routes theta joins only when both sides are that large) and
    lineitem_x keeps its sf0.1 size, so its aggregate state crosses the
    engine's 1M-row patch threshold.  ``s`` is the seed."""
    n_cust = int(15_000 * scale)
    n_ord = int(150_000 * scale)
    segments = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    prios = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    n_bands = 12_500
    specs = [
        TableSpec("customer", n_cust, (
            ("c_custkey", "id + 1"),
            ("c_name", "concat('Customer#', id + 1)"),
            ("c_nationkey", f"cast({_h(s, 11, 25)} AS int)"),
            ("c_acctbal", f"cast({_h(s, 12, 11_000)} - 1000 AS double)"),
            ("c_mktsegment", _pick(s, 13, segments)),
        )),
        TableSpec("orders", n_ord, (
            ("o_orderkey", "id + 1"),
            ("o_custkey", f"{_h(s, 21, n_cust)} + 1"),
            ("o_orderstatus", _pick(s, 22, ("F", "O", "P"))),
            ("o_totalprice", f"cast({_h(s, 23, 500_000)} + 900 AS double)"),
            ("o_orderdate", f"timestamp_seconds(694224000 + {_h(s, 24, 2400)} * 86400)"),
            ("o_orderpriority", _pick(s, 25, prios)),
        )),
        TableSpec("lineitem", int(600_000 * scale), (
            ("l_orderkey", f"{_h(s, 31, n_ord)} + 1"),
            ("l_partkey", f"{_h(s, 32, 20_000)} + 1"),
            ("l_suppkey", f"{_h(s, 33, 1000)} + 1"),
            ("l_linenumber", "cast(pmod(id, 7) + 1 AS int)"),
            ("l_quantity", f"cast({_h(s, 34, 50)} + 1 AS double)"),
            ("l_extendedprice", f"cast({_h(s, 35, 100_000)} + 900 AS double)"),
            ("l_returnflag", _pick(s, 36, ("A", "N", "R"))),
            ("l_linestatus", _pick(s, 37, ("F", "O"))),
        )),
        # lineitem's key columns, replicated past sf0.1's 600k rows with
        # offset order keys: one group per row, so a fine-grained
        # aggregate over it keeps just over 1M rows of state
        TableSpec("lineitem_x", 1_050_000, (
            ("l_orderkey", "id div 4 + 1"),
            ("l_linenumber", "cast(pmod(id, 4) + 1 AS int)"),
            ("l_quantity", f"cast({_h(s, 41, 50)} + 1 AS double)"),
        )),
        # one-sided theta partner of orders: cutoffs sit in the low price
        # tail, so each matches a handful of orders
        TableSpec("promos", 12_000, (
            ("p_id", "id + 1"),
            ("p_cutoff", f"cast({_h(s, 51, 100)} + 900 AS double)"),
        )),
        # band partner of orders: width-40 bands tile the price range, so
        # an order sits in about one band (rangejoin's shape)
        TableSpec("bands", n_bands, (
            ("b_id", "id + 1"),
            ("b_lo", f"cast(900 + 40 * {_h(s, 61, n_bands)} AS double)"),
            ("b_hi", f"cast(939 + 40 * {_h(s, 61, n_bands)} AS double)"),
        )),
    ]
    return {t.name: t for t in specs}


class World:
    """Live row ids per table plus the generators that turn ids into rows.

    Ids ``0 .. next_id-1`` have been born; ``deleted`` lists those that
    died since, so the true table is the born ids minus the deleted ones.
    """

    def __init__(
        self, spark: SparkSession, seed: int, tables: tuple[str, ...], scale: float
    ):
        self.spark = spark
        self.rng = random.Random(seed)
        every = _specs(scale, seed)
        self.specs = {t: every[t] for t in tables}
        self.live: dict[str, list[int]] = {t: list(range(s.rows)) for t, s in self.specs.items()}
        self.next_id = {t: s.rows for t, s in self.specs.items()}
        self.deleted: dict[str, list[int]] = {t: [] for t in self.specs}

    def base(self, table: str, partitions: int) -> DataFrame:
        spec = self.specs[table]
        return (
            self.spark.range(0, spec.rows, 1, partitions)
            .selectExpr(*spec.exprs())
        )

    def rows_of(self, table: str, ids: list[int], mults: list[bool]) -> DataFrame:
        """Delta rows: the rows of ``ids`` with their multiplicities."""
        spec = self.specs[table]
        df = self.spark.createDataFrame(
            list(zip(ids, mults)), f"id bigint, {MULT} boolean"
        )
        return df.selectExpr(*spec.exprs(), MULT)

    def current(self, table: str) -> DataFrame:
        """The true table after every change applied so far."""
        spec = self.specs[table]
        born = self.spark.range(0, self.next_id[table])
        gone = self.spark.createDataFrame(
            [(i,) for i in self.deleted[table]], "id bigint"
        )
        return born.join(gone, "id", "left_anti").selectExpr(*spec.exprs())

    def draw(self, table: str, n_changes: int) -> tuple[list[int], list[bool]]:
        """``n_changes`` updates: each deletes a live row and inserts a
        fresh key.  Returns (ids, multiplicities) and advances the world."""
        live = self.live[table]
        ids: list[int] = []
        for _ in range(n_changes):
            j = self.rng.randrange(len(live))
            live[j], live[-1] = live[-1], live[j]
            ids.append(live.pop())
        self.deleted[table].extend(ids)
        fresh = list(range(self.next_id[table], self.next_id[table] + n_changes))
        self.next_id[table] += n_changes
        live.extend(fresh)
        return ids + fresh, [False] * n_changes + [True] * n_changes

    def delta(self, table: str, n_changes: int) -> tuple[DataFrame, int]:
        ids, mults = self.draw(table, n_changes)
        return self.rows_of(table, ids, mults), len(ids)

    def snapshot(self) -> tuple:
        return (
            {t: list(v) for t, v in self.live.items()},
            dict(self.next_id),
            {t: list(v) for t, v in self.deleted.items()},
        )

    def restore(self, snap: tuple) -> None:
        live, next_id, deleted = snap
        self.live = {t: list(v) for t, v in live.items()}
        self.next_id = dict(next_id)
        self.deleted = {t: list(v) for t, v in deleted.items()}

    def replay(self, table: str, ids: list[int], mults: list[bool]) -> None:
        """Apply changes drawn earlier (after ``restore``): deletions join
        ``deleted`` and the born range grows past the inserted ids."""
        self.deleted[table].extend(i for i, m in zip(ids, mults) if not m)
        born = [i for i, m in zip(ids, mults) if m]
        if born:
            self.next_id[table] = max(self.next_id[table], max(born) + 1)
