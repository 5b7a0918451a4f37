"""The ``cql_serving`` workload: a seeded CQL statement sequence and the
read-your-writes model that checks every answer the engine gives to it.

The sequence is a pure function of the seed and the key universe (the keys
present in the data), so it never depends on how fast the engine runs. The
model applies every statement with Cassandra's cell rules:

- every written column is a cell with its own writetime; the newest wins;
- INSERT writes a row marker plus its cells, UPDATE writes cells only;
- DELETE of named columns writes cell tombstones; a row DELETE shadows every
  cell of the row written at or before its writetime;
- a row is visible while any live cell (the marker included) remains;
- the statements of one BATCH share one writetime.

Writetimes are a counter bumped once per applied statement (once per
BATCH), the same order the engine's session assigns them in.
"""

from __future__ import annotations

import bisect
import dataclasses
import math
import os
import random
from dataclasses import dataclass

#: table -> (partition key, clustering key) for the tables the workload uses
KEYS: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "customer": (("c_custkey",), ()),
    "orders": (("o_orderkey",), ()),
    "lineitem": (("l_orderkey",), ("l_linenumber",)),
    "events": (("user_id",), ("ts", "event_id")),
}

#: declared payload columns the workload writes, with the kind of value it
#: writes to each. Timestamp columns are not written, and ``events`` is read
#: only: its clustering key is a timestamp, and a timestamp key bound as a
#: string literal is accepted at write time but breaks every later read of
#: the table.
WRITABLE: dict[str, dict[str, str]] = {
    "customer": {
        "c_name": "name",
        "c_nationkey": "nation",
        "c_acctbal": "money",
        "c_mktsegment": "segment",
    },
    "orders": {
        "o_custkey": "custkey",
        "o_orderstatus": "status",
        "o_totalprice": "money",
        "o_orderpriority": "priority",
    },
    "lineitem": {
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
        "l_quantity": "quantity",
        "l_extendedprice": "money",
        "l_discount": "rate",
        "l_tax": "rate",
        "l_returnflag": "flag",
        "l_linestatus": "linestatus",
    },
}

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("F", "O", "P")

# The traffic constants below are chosen, not measured: no trace of real
# traffic for this engine exists. Only the Zipf exponent has a public source.
# README.md lists them.

#: write kinds in one block of writes that precedes each read (30 writes
#: per read); BATCH blocks count as one statement each. The split is chosen
#: so that every statement kind occurs in each block and UPDATE, the plain
#: cell write, is the most common.
WRITE_BLOCK = (
    ("update", 13), ("update_ttl", 3), ("insert", 5), ("insert_ttl", 2),
    ("delete_cells", 3), ("delete_row", 1), ("batch", 3),
)
#: tables writes go to, each equally likely
WRITE_TABLES = ("customer", "orders", "lineitem")
READ_TABLES = ("customer", "orders", "events", "lineitem")
#: YCSB's default Zipfian constant (Cooper et al., "Benchmarking Cloud
#: Serving Systems with YCSB", SoCC 2010)
ZIPF_S = 0.99
#: share of INSERTs that create a key not in the data (chosen)
NEW_KEY_SHARE = 0.3
#: keys above the data's largest key that INSERTs may create (chosen)
NEW_KEYS = 200
#: untimed writes that fill a round's session before its timed part, so
#: the reads run over a buffer of several thousand cells
FILL_WRITES = 2000


@dataclass(frozen=True)
class Mutation:
    table: str
    pk: tuple
    ck: tuple
    action: str  # insert | update | delete_cells | delete_row
    cols: tuple  # ((column, value), ...); names only for delete_cells
    ttl: int | None = None


@dataclass(frozen=True)
class Op:
    kind: str  # fill (an untimed write) | write | read | lwt
    cql: str
    table: str
    muts: tuple = ()  # write: the statement's mutations (a BATCH has several)
    pk: tuple = ()  # read: partition; lwt: the row's partition key
    ck: tuple = ()  # lwt: the row's clustering key
    limit: int | None = None  # read: LIMIT n
    cond: tuple | None = None  # lwt: () for IF NOT EXISTS, else (column, value)


@dataclass(frozen=True)
class Universe:
    """The keys present in the data, sorted, that statements draw from."""

    customer: tuple
    orders: tuple
    lines: dict  # l_orderkey -> sorted tuple of l_linenumber
    users: tuple


# -- rendering ---------------------------------------------------------------


def literal(v) -> str:
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v:.2f}"
    return "'" + str(v).replace("'", "''") + "'"


def _where(table: str, pk: tuple, ck: tuple) -> str:
    p, c = KEYS[table]
    return " AND ".join(f"{k} = {literal(v)}" for k, v in zip((*p, *c), (*pk, *ck)))


def render(m: Mutation) -> str:
    using = f" USING TTL {m.ttl}" if m.ttl else ""
    if m.action == "insert":
        p, c = KEYS[m.table]
        names = (*p, *c, *(k for k, _ in m.cols))
        vals = (*m.pk, *m.ck, *(v for _, v in m.cols))
        return (
            f"INSERT INTO {m.table} ({', '.join(names)}) "
            f"VALUES ({', '.join(literal(v) for v in vals)}){using}"
        )
    if m.action == "update":
        sets = ", ".join(f"{k} = {literal(v)}" for k, v in m.cols)
        return f"UPDATE {m.table}{using} SET {sets} WHERE {_where(m.table, m.pk, m.ck)}"
    if m.action == "delete_cells":
        cols = ", ".join(k for k, _ in m.cols)
        return f"DELETE {cols} FROM {m.table} WHERE {_where(m.table, m.pk, m.ck)}"
    return f"DELETE FROM {m.table} WHERE {_where(m.table, m.pk, m.ck)}"


# -- sequence generation -------------------------------------------------------


class Zipf:
    """Zipf-skewed draws over ``keys`` in a seeded order: the same few keys
    take most draws, so reads keep landing on keys with buffered cells."""

    def __init__(self, keys, rng: random.Random, s: float = ZIPF_S):
        self.keys = list(keys)
        rng.shuffle(self.keys)
        acc, self.cum = 0.0, []
        for r in range(1, len(self.keys) + 1):
            acc += 1.0 / r**s
            self.cum.append(acc)

    def draw(self, rng: random.Random):
        return self.keys[bisect.bisect_left(self.cum, rng.random() * self.cum[-1])]


class _Gen:
    def __init__(self, seed: int, u: Universe):
        self.rng = random.Random(seed)
        self.u = u
        self.zipf = {
            "customer": Zipf(u.customer, self.rng),
            "orders": Zipf(u.orders, self.rng),
            "lineitem": Zipf(sorted(u.lines), self.rng),
            "events": Zipf(u.users, self.rng),
        }
        self.max_key = {
            "customer": u.customer[-1],
            "orders": u.orders[-1],
            "lineitem": max(u.lines),
        }

    def value(self, kind: str):
        r = self.rng
        if kind == "name":
            return f"Customer#{r.randrange(10**9):09d}"
        if kind == "nation":
            return r.randrange(25)
        if kind == "money":
            return round(r.uniform(1.0, 100000.0), 2)
        if kind == "segment":
            return r.choice(SEGMENTS)
        if kind == "custkey":
            return r.choice(self.u.customer)
        if kind == "status":
            return r.choice(STATUSES)
        if kind == "priority":
            return r.choice(PRIORITIES)
        if kind in ("partkey", "suppkey"):
            return r.randrange(1, 2000)
        if kind == "quantity":
            return float(r.randrange(1, 51))
        if kind == "rate":
            return r.randrange(0, 11) / 100
        if kind == "flag":
            return r.choice("ANR")
        return r.choice("FO")

    def row_key(self, table: str, new: bool = False) -> tuple[tuple, tuple]:
        """A Zipf-drawn existing row, or a fresh key for ``new`` INSERTs."""
        if table == "lineitem":
            ok = self.zipf["lineitem"].draw(self.rng)
            lines = self.u.lines[ok]
            ln = lines[-1] + 1 if new else self.rng.choice(lines)
            return (ok,), (ln,)
        if new:
            return (self.max_key[table] + 1 + self.rng.randrange(NEW_KEYS),), ()
        return (self.zipf[table].draw(self.rng),), ()

    def cols(self, table: str, lo: int, hi: int) -> tuple:
        names = sorted(WRITABLE[table])
        picked = sorted(self.rng.sample(names, self.rng.randint(lo, hi)))
        return tuple((c, self.value(WRITABLE[table][c])) for c in picked)

    def mutation(self, kind: str) -> Mutation:
        table = self.rng.choice(WRITE_TABLES)
        ttl = self.rng.choice((600, 3600, 86400)) if kind.endswith("_ttl") else None
        action = kind.removesuffix("_ttl")
        if action == "insert":
            pk, ck = self.row_key(table, new=self.rng.random() < NEW_KEY_SHARE)
            return Mutation(table, pk, ck, "insert", self.cols(table, 2, 4), ttl)
        pk, ck = self.row_key(table)
        if action == "update":
            return Mutation(table, pk, ck, "update", self.cols(table, 1, 3), ttl)
        if action == "delete_cells":
            names = tuple((c, None) for c, _ in self.cols(table, 1, 2))
            return Mutation(table, pk, ck, "delete_cells", names)
        return Mutation(table, pk, ck, "delete_row", ())

    def write(self, kind: str) -> Op:
        if kind != "batch":
            m = self.mutation(kind)
            return Op("write", render(m), m.table, muts=(m,))
        muts, seen = [], set()
        while len(muts) < 3:
            m = self.mutation(self.rng.choice(("update", "insert", "delete_cells")))
            if (m.table, m.pk, m.ck) not in seen:
                seen.add((m.table, m.pk, m.ck))
                muts.append(m)
        body = "; ".join(render(m) for m in muts)
        return Op("write", f"BEGIN BATCH {body}; APPLY BATCH", "batch", muts=tuple(muts))

    def read(self, table: str) -> Op:
        if table == "events":
            pk = (self.zipf["events"].draw(self.rng),)
        else:
            pk, _ = self.row_key(table)
        col = KEYS[table][0][0]
        stmt = f"SELECT * FROM {table} WHERE {col} = {literal(pk[0])}"
        limit = None
        if table == "events":
            limit = self.rng.choice((3, 5, 10))
            stmt += f" LIMIT {limit}"
        return Op("read", stmt, table, pk=pk, limit=limit)

    def lwt(self, i: int) -> Op:
        if i % 2 == 0:
            # half on new keys, so that both outcomes of IF NOT EXISTS occur
            pk, ck = self.row_key("customer", new=self.rng.random() < 0.5)
            m = Mutation("customer", pk, ck, "insert", self.cols("customer", 4, 4))
            return Op("lwt", render(m) + " IF NOT EXISTS", "customer", muts=(m,), pk=pk, ck=ck, cond=())
        pk, ck = self.row_key("orders")
        m = Mutation("orders", pk, ck, "update", (("o_orderstatus", self.value("status")),))
        want = self.rng.choice(PRIORITIES)
        stmt = f"{render(m)} IF o_orderpriority = {literal(want)}"
        return Op("lwt", stmt, "orders", muts=(m,), pk=pk, ck=ck, cond=("o_orderpriority", want))


def round_ops(seed: int, u: Universe, reads: int = 4, lwts: int = 2,
              fill: int = FILL_WRITES) -> list[Op]:
    """One round: ``fill`` untimed writes (kind ``fill``) first, then
    ``reads`` blocks of 30 writes then one read, the four read shapes in
    equal numbers, and ``lwts`` LWTs spread evenly. The fill and the timed
    part draw from the same Zipf key orders, so the reads land on the keys
    the fill wrote. Only keys, values and order depend on the seed; the mix
    is fixed."""
    g = _Gen(seed, u)
    block = [k for k, n in WRITE_BLOCK for _ in range(n)]
    ops: list[Op] = []
    while len(ops) < fill:
        g.rng.shuffle(block)
        ops.extend(dataclasses.replace(g.write(k), kind="fill") for k in block)
    del ops[fill:]
    kinds = [READ_TABLES[i % len(READ_TABLES)] for i in range(reads)]
    g.rng.shuffle(kinds)
    at = {int((j + 0.5) * reads / lwts) for j in range(lwts)} if lwts else set()
    j = 0
    for i, table in enumerate(kinds):
        g.rng.shuffle(block)
        ops.extend(g.write(k) for k in block)
        ops.append(g.read(table))
        if i in at:
            ops.append(g.lwt(j))
            j += 1
    return ops


def warmup_ops(u: Universe) -> list[Op]:
    """Each statement shape once, for the set-up pass; independent of the
    run's seed."""
    g = _Gen(-1, u)
    ops = [g.write(k) for k, _ in WRITE_BLOCK]
    ops.extend(g.read(t) for t in READ_TABLES)
    ops.extend(g.lwt(i) for i in range(2))
    return ops


# -- the model -----------------------------------------------------------------


def load_base(sf_dir: str) -> tuple[dict, dict]:
    """(rows, columns): table -> {pk: {ck: row}} and table -> column names,
    read straight from the parquet files with pyarrow."""
    import pyarrow.parquet as pq

    rows: dict = {}
    columns: dict = {}
    for t, (p, c) in KEYS.items():
        tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        columns[t] = tuple(tbl.column_names)
        part: dict = {}
        for r in tbl.to_pylist():
            rows_of_pk = part.setdefault(tuple(r[k] for k in p), {})
            ck = tuple(r[k] for k in c)
            prev = rows_of_pk.get(ck)
            rows_of_pk[ck] = r if prev is None else _tie_merge(prev, r)
        rows[t] = part
    return rows, columns


def _tie_merge(a: dict, b: dict) -> dict:
    """Two snapshot rows with one primary key are two writes at the same
    writetime: each cell resolves on its own, and the engine's tie rule
    keeps the greater value by its string form (a null loses)."""
    return {k: max((a[k], b[k]), key=_tie_key) for k in a}


def _tie_key(v) -> tuple:
    return (v is not None, spark_string(v))


def spark_string(v) -> str:
    """``CAST(v AS STRING)`` as Spark renders it, for the types the
    workload's tables hold."""
    import datetime
    from decimal import Decimal

    if v is None:
        return ""
    if isinstance(v, float):
        if v == 0 or 1e-3 <= abs(v) < 1e7:
            return repr(v)
        sign, digits, exp = Decimal(repr(v)).as_tuple()
        ds = "".join(map(str, digits)).rstrip("0") or "0"
        frac = ds[1:] or "0"
        return f"{'-' if sign else ''}{ds[0]}.{frac}E{len(digits) + exp - 1}"
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (f".{v.microsecond:06d}".rstrip("0") if v.microsecond else "")
    return str(v)


def universe(rows: dict) -> Universe:
    return Universe(
        customer=tuple(sorted(k for (k,) in rows["customer"])),
        orders=tuple(sorted(k for (k,) in rows["orders"])),
        lines={k: tuple(sorted(ck[0] for ck in part)) for (k,), part in rows["lineitem"].items()},
        users=tuple(sorted(k for (k,) in rows["events"])),
    )


class Model:
    """Expected state of one CqlSession: the base rows plus an overlay of
    cells written in this session."""

    def __init__(self, rows: dict, columns: dict):
        self.rows = rows
        self.columns = columns
        self.over: dict = {t: {} for t in rows}
        self.wt = 0
        #: cells the session's buffer holds (markers and tombstones included)
        self.cells = 0

    def _state(self, m: Mutation) -> dict:
        return self.over[m.table].setdefault(m.pk, {}).setdefault(
            m.ck, {"cells": {}, "marker": None, "deleted": -1}
        )

    def apply(self, muts: tuple) -> None:
        """Apply one statement; the mutations of a BATCH share a writetime."""
        self.wt += 1
        for m in muts:
            st = self._state(m)
            if m.action == "delete_row":
                st["deleted"] = max(st["deleted"], self.wt)
                self.cells += 1
                continue
            if m.action == "insert":
                st["marker"] = self.wt
                self.cells += 1
            for c, v in m.cols:
                st["cells"][c] = (self.wt, v, m.action == "delete_cells")
                self.cells += 1

    def row(self, table: str, pk: tuple, ck: tuple) -> dict | None:
        base = self.rows[table].get(pk, {}).get(ck)
        st = self.over[table].get(pk, {}).get(ck)
        if st is None:
            return dict(base) if base is not None else None
        p, c = KEYS[table]
        out = dict(zip((*p, *c), (*pk, *ck)))
        deleted = st["deleted"]
        marker = st["marker"] if st["marker"] is not None else (0 if base is not None else None)
        live = marker is not None and marker > deleted
        for col in self.columns[table]:
            if col in out:
                continue
            if col in st["cells"]:
                wt, v, tomb = st["cells"][col]
            elif base is not None:
                wt, v, tomb = 0, base[col], False
            else:
                out[col] = None
                continue
            if wt > deleted and not tomb:
                out[col] = v
                live = True
            else:
                out[col] = None
        return out if live else None

    def buffered(self, table: str, pk: tuple) -> bool:
        """Whether this session has written any cell of the partition."""
        return bool(self.over[table].get(pk))

    def partition(self, table: str, pk: tuple) -> list[dict]:
        cks = set(self.rows[table].get(pk, {})) | set(self.over[table].get(pk, {}))
        out = (self.row(table, pk, ck) for ck in sorted(cks))
        return [r for r in out if r is not None]

    def read(self, op: Op) -> list[dict]:
        rows = self.partition(op.table, op.pk)
        return rows[: op.limit] if op.limit is not None else rows

    def lwt(self, op: Op) -> bool:
        """Whether the LWT applies; applies its write when it does."""
        row = self.row(op.table, op.pk, op.ck)
        if op.cond == ():
            applied = row is None
        else:
            col, want = op.cond
            applied = row is not None and row.get(col) == want
        if applied:
            self.apply(op.muts)
        return applied


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check_rows(table: str, got: list[dict], want: list[dict]) -> str | None:
    """None when ``got`` holds exactly the rows of ``want`` (in any order;
    floats within 1e-9), else a description of the first difference."""
    p, c = KEYS[table]

    def key(r):
        return tuple(r.get(k) for k in (*p, *c))

    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if set(g) != set(w):
            return f"columns {sorted(g)} != {sorted(w)}"
        for col in w:
            if not _same(g[col], w[col]):
                return f"row {key(w)} column {col}: {g[col]!r} != {w[col]!r}"
    return None
