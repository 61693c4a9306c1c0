"""Expected answers, computed in set-up by engines other than the one
measured: DuckDB for the parquet requests, pyarrow over the files written
for each Iceberg snapshot, and the churn timeline that decides which
snapshots a read may legally see."""

from __future__ import annotations

import datetime
import decimal
import math
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc


def _cell(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _sort_key(row: list) -> tuple:
    return tuple(
        (1, round(v, 2)) if isinstance(v, float) else (0, repr(v)) for v in row
    )


def rows_match(got: list[list], want: list[list]) -> bool:
    """Order-insensitive row comparison; floats match to 1e-9 relative
    (sums over many doubles depend on task order)."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
                    and not isinstance(a, bool) and not isinstance(b, bool):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


def duckdb_rows(con, sql: str, row_limit: int) -> list[list]:
    """The service's answer to a DuckDB-dialect request, from DuckDB
    itself: the service appends ``LIMIT row_limit`` when the request
    has none, so truncate the same way."""
    rows = con.execute(sql).fetchmany(row_limit)
    return [[_cell(v) for v in r] for r in rows]


# -- Iceberg answers from the files written ------------------------------------


def delete_rows(table: pa.Table, column: str, keys: list[int]) -> pa.Table:
    """Rows left after ``DELETE ... WHERE column IN (keys)``."""
    hit = pc.is_in(table.column(column), value_set=pa.array(keys, pa.int64()))
    return table.filter(pc.invert(hit))


def total_answer(table: pa.Table) -> list[list]:
    """``SELECT COUNT(*) AS n, SUM(o_totalprice) AS total``."""
    s = pc.sum(table.column("o_totalprice")).as_py()
    return [[table.num_rows, s]]


def status_answer(table: pa.Table) -> list[list]:
    """``... GROUP BY o_orderstatus`` with count and price sum."""
    g = table.group_by("o_orderstatus").aggregate(
        [("o_orderstatus", "count"), ("o_totalprice", "sum")]
    )
    return [
        [s, n, t]
        for s, n, t in zip(
            g.column("o_orderstatus").to_pylist(),
            g.column("o_orderstatus_count").to_pylist(),
            g.column("o_totalprice_sum").to_pylist(),
        )
    ]


def point_answer(table: pa.Table, custkey: int) -> list[list]:
    """``SELECT o_orderkey, o_totalprice, o_orderpriority WHERE
    o_custkey = custkey``."""
    t = table.filter(pc.equal(table.column("o_custkey"), custkey))
    return [list(r.values()) for r in t.select(
        ["o_orderkey", "o_totalprice", "o_orderpriority"]
    ).to_pylist()]


# -- churn timeline ---------------------------------------------------------------


@dataclass
class Version:
    """One snapshot: the logical table state it shows and the monotonic
    interval in which it may have been the current snapshot (from the
    start of the commit that made it until the end of the next one)."""

    snapshot_id: int
    state: int
    current_from: float
    current_until: float = math.inf


@dataclass
class Timeline:
    """Snapshots of a table in commit order. The snapshots that existed
    before the run share ``current_from = -inf`` but only the last of
    them was ever current during it."""

    versions: list[Version] = field(default_factory=list)

    def add(self, snapshot_id: int, state: int, t_start: float, t_end: float) -> None:
        if self.versions:
            self.versions[-1].current_until = t_end
        self.versions.append(Version(snapshot_id, state, t_start))

    def current_during(self, t0: float, t1: float) -> list[Version]:
        """Versions that may have been current at some instant in
        ``[t0, t1]``."""
        return [v for v in self.versions if v.current_from <= t1 and v.current_until >= t0]

    def fresh_states(self, t0: float, t1: float) -> set[int]:
        return {v.state for v in self.current_during(t0, t1)}

    def listing_ok(self, ids: list[int], t0: float, t1: float) -> bool:
        """A snapshot listing is correct iff it is the full commit history
        up to a snapshot that was current during the request."""
        n = len(ids)
        if n == 0 or [v.snapshot_id for v in self.versions[:n]] != ids:
            return False
        return self.versions[n - 1] in self.current_during(t0, t1)
