"""The ``lakehouse_dml`` statement stream and its DuckDB replay.

A :class:`Stream` turns a seed into cycles of eight operations on the
managed ``orders`` table: four SQL-door writes (UPDATE, DELETE, MERGE,
INSERT), each followed by a read.  Key ranges come from the table's
real key domain, skewed toward the newest keys.  :class:`Replay` applies
the same writes to a DuckDB copy of the table so that every read and
the final state can be checked.  DuckDB 1.0 has no MERGE, so it runs as
UPDATE ... FROM followed by INSERT ... WHERE NOT EXISTS.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from gen import PRIORITIES

TABLE = "orders"
KEY = "o_orderkey"
ARROW_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)
#: Fraction of key ranges drawn from the newest HOT_SHARE of the keys.
HOT_FRAC, HOT_SHARE = 0.8, 0.1
MERGE_MATCHED, MERGE_NEW, INSERT_ROWS = 250, 250, 200

#: Exact aggregate used by the GROUP BY and snapshot reads: prices are
#: summed as integer cents so both engines produce identical integers.
CENTS = "sum(CAST(round(o_totalprice * 100) AS BIGINT))"
GROUP_SQL = (
    f"SELECT o_orderstatus, o_orderpriority, count(*) AS n, {CENTS} AS cents "
    f"FROM {TABLE} GROUP BY o_orderstatus, o_orderpriority"
)
TOTALS_SQL = f"SELECT count(*) AS n, {CENTS} AS cents FROM {TABLE}"


def key_range(rng, max_key: int, width: int) -> tuple[int, int]:
    """Inclusive ``[lo, hi]`` of ``width`` keys inside ``[0, max_key]``;
    with probability HOT_FRAC it starts in the newest HOT_SHARE of the
    domain (recent orders are the ones that get corrected)."""
    width = max(1, min(width, max_key + 1))
    last_lo = max_key - width + 1
    first = 0
    if rng.random() < HOT_FRAC:
        first = min(int(max_key * (1.0 - HOT_SHARE)), last_lo)
    lo = int(rng.integers(first, last_lo + 1))
    return lo, lo + width - 1


@dataclass
class Stmt:
    kind: str  # update | delete | merge | insert | read_range | group_by | as_of | rest_scan
    sql: str | None = None
    lo: int = 0
    hi: int = 0
    rows: pa.Table | None = None  # MERGE / INSERT source rows
    back: int = 0  # as_of: how many writes back from the newest

    @property
    def is_write(self) -> bool:
        return self.kind in ("update", "delete", "merge", "insert")


class Stream:
    """Seeded, deterministic statement stream over a table whose keys
    start dense at ``0..n_keys-1``; new keys are appended above the
    current maximum."""

    def __init__(self, seed: int, n_keys: int) -> None:
        self.rng = np.random.default_rng([seed, 7])
        self.max_key = n_keys - 1

    def _rows(self, keys: np.ndarray) -> pa.Table:
        r, n = self.rng, len(keys)
        days = r.integers(0, 365, n).astype("timedelta64[D]")
        return pa.table(
            [
                pa.array(keys, pa.int64()),
                pa.array(r.integers(0, 15_000, n), pa.int64()),
                pa.array(np.array(["F", "O", "P"], dtype=object)[r.integers(0, 3, n)]),
                pa.array(np.round(r.uniform(1000.0, 500000.0, n), 2)),
                pa.array(np.datetime64("2001-08-02", "us") + days, pa.timestamp("us")),
                pa.array(np.array(PRIORITIES, dtype=object)[r.integers(0, 5, n)]),
            ],
            schema=ARROW_SCHEMA,
        )

    def _new_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.max_key + 1, self.max_key + 1 + n)
        self.max_key += n
        return keys

    def cycle(self) -> list[Stmt]:
        r = self.rng
        lo, hi = key_range(r, self.max_key, int(r.integers(300, 1500)))
        update = Stmt(
            "update",
            f"UPDATE {TABLE} SET o_totalprice = o_totalprice + 12.5, "
            f"o_orderstatus = 'F' WHERE {KEY} BETWEEN {lo} AND {hi}",
            lo,
            hi,
        )
        rlo, rhi = key_range(r, self.max_key, int(r.integers(500, 3000)))
        read = Stmt("read_range", lo=rlo, hi=rhi)
        dlo, dhi = key_range(r, self.max_key, int(r.integers(300, 1500)))
        delete = Stmt(
            "delete",
            f"DELETE FROM {TABLE} WHERE {KEY} BETWEEN {dlo} AND {dhi} "
            "AND o_orderpriority = '5-LOW'",
            dlo,
            dhi,
        )
        mlo, mhi = key_range(r, self.max_key, 4 * MERGE_MATCHED)
        matched = np.sort(r.choice(np.arange(mlo, mhi + 1), MERGE_MATCHED, replace=False))
        merge = Stmt(
            "merge",
            f"MERGE INTO {TABLE} t USING merge_src s ON t.{KEY} = s.{KEY} "
            "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, "
            "o_orderstatus = s.o_orderstatus, o_orderpriority = s.o_orderpriority "
            "WHEN NOT MATCHED THEN INSERT *",
            rows=self._rows(np.concatenate([matched, self._new_keys(MERGE_NEW)])),
        )
        insert = Stmt(
            "insert",
            f"INSERT INTO {TABLE} SELECT * FROM insert_src",
            rows=self._rows(self._new_keys(INSERT_ROWS)),
        )
        return [
            update,
            read,
            delete,
            Stmt("group_by", GROUP_SQL),
            merge,
            Stmt("as_of", back=int(r.integers(1, 4))),
            insert,
            Stmt("rest_scan"),
        ]


class Replay:
    """DuckDB copy of the table, advanced write by write."""

    def __init__(self, con, orders_glob: str) -> None:
        self.con = con
        con.execute(f"CREATE TABLE {TABLE} AS SELECT * FROM read_parquet('{orders_glob}')")
        #: totals after each write; index 0 is the created table
        self.totals = [self.query(TOTALS_SQL)[1][0]]

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [c[0] for c in res.description], res.fetchall()

    def _count(self, sql: str) -> int:
        return int(self.con.execute(sql).fetchone()[0])

    def apply(self, s: Stmt) -> int:
        """Apply one write; returns the rows it inserted, updated or
        deleted."""
        if s.kind in ("update", "delete"):
            n = self._count(s.sql)
        elif s.kind == "merge":
            self.con.register("merge_src", s.rows)
            n = self._count(
                f"UPDATE {TABLE} SET o_totalprice = s.o_totalprice, "
                "o_orderstatus = s.o_orderstatus, o_orderpriority = s.o_orderpriority "
                f"FROM merge_src s WHERE {TABLE}.{KEY} = s.{KEY}"
            )
            n += self._count(
                f"INSERT INTO {TABLE} SELECT * FROM merge_src s WHERE NOT EXISTS "
                f"(SELECT 1 FROM {TABLE} o WHERE o.{KEY} = s.{KEY})"
            )
            self.con.unregister("merge_src")
        elif s.kind == "insert":
            self.con.register("insert_src", s.rows)
            n = self._count(f"INSERT INTO {TABLE} SELECT * FROM insert_src")
            self.con.unregister("insert_src")
        else:
            raise ValueError(f"not a write: {s.kind}")
        self.totals.append(self.query(TOTALS_SQL)[1][0])
        return n

    def expected(self, s: Stmt) -> tuple[list[str], list[tuple]]:
        """Oracle result of a read at the current replay state."""
        if s.kind == "read_range":
            return self.query(f"SELECT * FROM {TABLE} WHERE {KEY} BETWEEN {s.lo} AND {s.hi}")
        if s.kind == "group_by":
            return self.query(s.sql)
        if s.kind == "as_of":
            return ["n", "cents"], [self.totals[-1 - s.back]]
        if s.kind == "rest_scan":
            return ["n", "cents"], [self.totals[-1]]
        raise ValueError(f"not a read: {s.kind}")


def as_python_rows(tbl: pa.Table) -> list[tuple]:
    """Arrow rows as tuples of Python values (naive datetimes), the form
    ``spark.createDataFrame`` takes."""
    cols = [c.to_pylist() for c in tbl.columns]
    return list(zip(*cols))
