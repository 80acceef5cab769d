"""Seeded input generators for the import-and-lake benchmark.

Everything the program under test receives is produced here from the
workload seed: a lineitem-shaped import target (parquet), the CSV source
imported into it, an orders-shaped lake seed and the per-round lake
batches.  The generator keeps the bookkeeping the correctness checks need
(the statistics line the CLI must print, the lake table's per-status
aggregate after each round) so no check has to trust the program's own
counts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_COLUMNS = [
    ("l_orderkey", pa.int64()),
    ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()),
    ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()),
    ("l_shipdate", pa.date32()),
    ("l_comment", pa.string()),
]
LINEITEM_KEYS = ("l_orderkey", "l_linenumber")
LINES_PER_ORDER = 4

ORDERS_COLUMNS = [
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.date32()),
    ("o_orderpriority", pa.string()),
]

_WORDS = np.array(
    "carefully final deposits sleep quickly ironic packages haggle furiously "
    "regular accounts among the slyly express requests wake blithely bold "
    "pending theodolites integrate across silent pinto beans".split()
)
_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01

# Rows per lake round: the keyed workload upserts UPSERT_CHANGED live keys
# with new values plus UPSERT_NEW new keys (the keyless one appends
# UPSERT_NEW new rows instead); every round then deletes DELETES live keys
# and appends APPENDS new rows.
UPSERT_CHANGED = 500
UPSERT_NEW = 1000
DELETES = 150
APPENDS = 1000

# Aggregate the lake checks compare: per o_orderstatus, (rows, sum of
# o_custkey, sum of o_totalprice in cents).
Aggregate = dict[str, tuple[int, int, int]]


@dataclass
class ImportInputs:
    """Paths of one import workload's inputs and the statistics the CLI
    must report for them."""

    target_dir: str
    csv_path: str
    expected: dict
    source_rows: int
    target_rows: int
    csv_bytes: int


@dataclass
class LakeRound:
    upsert: pa.Table | None  # keyed workload: changed + new rows
    append_first: pa.Table | None  # keyless workload: new rows in place of the upsert
    delete_keys: list[int]
    append: pa.Table
    expected: Aggregate  # the live table's aggregate after the round


@dataclass
class LakeInputs:
    seed_path: str
    seed_rows: int
    rounds: list[LakeRound] = field(default_factory=list)


def _comments(rng: np.random.Generator, n: int) -> np.ndarray:
    w = _WORDS[rng.integers(0, len(_WORDS), size=(n, 3))]
    return np.char.add(np.char.add(np.char.add(w[:, 0], " "), np.char.add(w[:, 1], " ")), w[:, 2])


def _lineitem_values(rng: np.random.Generator, n: int) -> dict:
    """Non-key lineitem columns for n rows (keys are set by the caller)."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_partkey": rng.integers(1, 20_000, n),
        "l_suppkey": rng.integers(1, 1_000, n),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": _STATUS[rng.integers(0, 2, n)],
        "l_shipdate": rng.integers(_EPOCH_1992, _EPOCH_1992 + 2500, n),
        "l_comment": _comments(rng, n),
    }


def _arrow(values, t: pa.DataType) -> pa.Array:
    if t == pa.date32():
        return pa.array(np.asarray(values, dtype=np.int32)).cast(t)
    return pa.array(values).cast(t)


def _lineitem_table(orderkey: np.ndarray, linenumber: np.ndarray, vals: dict) -> pa.Table:
    cols = {"l_orderkey": orderkey, "l_linenumber": linenumber, **vals}
    return pa.table(
        {name: _arrow(cols[name], t) for name, t in LINEITEM_COLUMNS}
    )


def generate_import(out_dir: str, seed: int, target_rows: int, source_rows: int) -> ImportInputs:
    """Lineitem target of ``target_rows`` rows and a ``;``-separated CSV of
    ``source_rows`` rows: ~45% updates of existing keys, ~30% new keys
    (key offset past the target), ~24.5% repeats of those keys with later
    values (some cells empty, i.e. NULL) and ~0.5% invalid rows (a
    non-numeric quantity or a malformed ship date).  Rows are shuffled,
    so a repeat may precede the row it repeats; last in file wins."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    idx = np.arange(target_rows)
    target = _lineitem_table(
        idx // LINES_PER_ORDER, (idx % LINES_PER_ORDER + 1).astype(np.int32),
        _lineitem_values(rng, target_rows),
    )
    target_dir = os.path.join(out_dir, "pristine_lineitem")
    os.makedirs(target_dir, exist_ok=True)
    pq.write_table(target, os.path.join(target_dir, "part-00000.parquet"))

    n_upd = int(source_rows * 0.45)
    n_new = int(source_rows * 0.30)
    n_bad = max(1, int(source_rows * 0.005))
    n_rep = source_rows - n_upd - n_new - n_bad
    upd_pos = rng.choice(target_rows, size=n_upd, replace=False)
    new_pos = target_rows + rng.choice(target_rows, size=n_new, replace=False)
    base_pos = np.concatenate([upd_pos, new_pos])
    rep_pos = base_pos[rng.integers(0, len(base_pos), n_rep)]
    bad_pos = base_pos[rng.integers(0, len(base_pos), n_bad)]
    pos = np.concatenate([base_pos, rep_pos, bad_pos])
    kind = np.concatenate([
        np.zeros(len(base_pos), np.int8), np.ones(n_rep, np.int8), np.full(n_bad, 2, np.int8),
    ])
    order = rng.permutation(len(pos))
    pos, kind = pos[order], kind[order]

    vals = _lineitem_values(rng, len(pos))
    cols = {
        "l_orderkey": pos // LINES_PER_ORDER,
        "l_linenumber": pos % LINES_PER_ORDER + 1,
        **vals,
        "l_shipdate": np.datetime_as_string(vals["l_shipdate"].astype("datetime64[D]")),
    }
    frame = pd.DataFrame({n: cols[n] for n, _ in LINEITEM_COLUMNS}).astype(object)
    for c in ("l_quantity", "l_returnflag", "l_shipdate", "l_comment", "l_tax"):
        frame.loc[(kind == 1) & (rng.random(len(pos)) < 0.2), c] = None
    bad = kind == 2
    bad_qty = bad & (rng.random(len(pos)) < 0.5)
    frame.loc[bad_qty, "l_quantity"] = "x" + frame.loc[bad_qty, "l_quantity"].astype(str)
    frame.loc[bad & ~bad_qty, "l_shipdate"] = "1995-13-40"
    csv_path = os.path.join(out_dir, "src.csv")
    frame.to_csv(csv_path, sep=";", index=False, na_rep="", lineterminator="\n")

    distinct = len(base_pos)
    valid = source_rows - n_bad
    expected = {
        "found": source_rows,
        "valid": valid,
        "invalid": n_bad,
        "upsert": {"duplicate": valid - distinct, "inserted": n_new, "updated": n_upd},
        "insert": {"duplicate": 0, "inserted": valid, "updated": 0},
    }
    return ImportInputs(
        target_dir=target_dir,
        csv_path=csv_path,
        expected=expected,
        source_rows=source_rows,
        target_rows=target_rows,
        csv_bytes=os.path.getsize(csv_path),
    )


def _orders_table(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    cols = {
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, 15_000, n),
        "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(850.0, 500_000.0, n), 2),
        "o_orderdate": rng.integers(_EPOCH_1992, _EPOCH_1992 + 2400, n),
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
    }
    return pa.table({name: _arrow(cols[name], t) for name, t in ORDERS_COLUMNS})


class _LiveOrders:
    """The generator's own copy of the lake table's live rows, by key, in
    the columns the aggregate needs."""

    def __init__(self, size: int):
        self.alive = np.zeros(size, bool)
        self.status = np.zeros(size, np.int8)
        self.cust = np.zeros(size, np.int64)
        self.cents = np.zeros(size, np.int64)

    def put(self, t: pa.Table) -> None:
        keys = t.column("o_orderkey").to_numpy()
        self.alive[keys] = True
        self.status[keys] = np.searchsorted(_STATUS, t.column("o_orderstatus").to_numpy(False))
        self.cust[keys] = t.column("o_custkey").to_numpy()
        self.cents[keys] = np.rint(t.column("o_totalprice").to_numpy() * 100).astype(np.int64)

    def live_keys(self) -> np.ndarray:
        return np.flatnonzero(self.alive)

    def delete(self, keys: np.ndarray) -> None:
        self.alive[keys] = False

    def aggregate(self) -> Aggregate:
        out = {}
        for i, name in enumerate(_STATUS):
            m = self.alive & (self.status == i)
            if m.any():
                out[str(name)] = (int(m.sum()), int(self.cust[m].sum()), int(self.cents[m].sum()))
        return out


def generate_lake(out_dir: str, seed: int, seed_rows: int, rounds: int, keyed: bool) -> LakeInputs:
    """Orders-shaped lake seed and ``rounds`` rounds of batches, sized by
    the module constants above."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    seed_path = os.path.join(out_dir, "orders_seed.parquet")
    seed_table = _orders_table(rng, np.arange(seed_rows, dtype=np.int64))
    pq.write_table(seed_table, seed_path)

    state = _LiveOrders(seed_rows + rounds * (UPSERT_NEW + APPENDS))
    state.put(seed_table)
    next_key = seed_rows
    out = LakeInputs(seed_path=seed_path, seed_rows=seed_rows)
    for _ in range(rounds):
        fresh = np.arange(next_key, next_key + UPSERT_NEW, dtype=np.int64)
        next_key += UPSERT_NEW
        if keyed:
            changed = rng.choice(state.live_keys(), size=UPSERT_CHANGED, replace=False)
            upsert = _orders_table(rng, np.concatenate([changed, fresh]))
            append_first = None
        else:
            upsert = None
            append_first = _orders_table(rng, fresh)
        state.put(upsert if keyed else append_first)
        doomed = rng.choice(state.live_keys(), size=DELETES, replace=False)
        state.delete(doomed)
        app_keys = np.arange(next_key, next_key + APPENDS, dtype=np.int64)
        next_key += APPENDS
        append = _orders_table(rng, app_keys)
        state.put(append)
        out.rounds.append(
            LakeRound(
                upsert=upsert,
                append_first=append_first,
                delete_keys=sorted(int(k) for k in doomed),
                append=append,
                expected=state.aggregate(),
            )
        )
    return out
