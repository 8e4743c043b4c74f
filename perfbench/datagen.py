"""The seeded CDC backlog of ``cdc_merge`` and the pandas fold that gives
the expected table state.

The lake tables the query rosters read are not generated: they are the
project's sf0.1 and sf0.001 fixture tables, kept under ``data/``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

CDC_COLUMNS = ["id", "name", "amount", "_cdc_op", "_cdc_lsn"]
_NAMES = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel"]


@dataclass
class CdcStream:
    """A seeded CDC backlog over a keyed table.

    This is a chosen stress shape, not a measured trace. It models a table
    whose rows are changed while they are young (an order moving through its
    states, then archived): the base table holds ``n_base`` live keys with
    ids in insertion order, and each batch of ``batch_size`` events holds

    - INSERTs of fresh keys (``p_insert``), above every earlier id;
    - UPDATEs and DELETEs (``p_delete``) of live keys among the ``window``
      most recently inserted ids, favouring the newest (the offset below
      the newest id is ``window * u**2``, ``u`` uniform);
    - repeats (``p_repeat``) of a key already changed in the same batch.

    LSNs rise monotonically across the whole stream. Every batch touches
    only the top of the key range, so a copy-on-write merge that prunes
    files by key range rewrites the recent files and carries the old ones
    forward by reference."""

    seed: int
    n_base: int = 20_000
    batch_size: int = 1000
    window: int = 4000
    p_insert: float = 0.25
    p_delete: float = 0.15
    p_repeat: float = 0.05
    rng: np.random.Generator = field(init=False)
    alive: np.ndarray = field(init=False)
    next_id: int = field(init=False)
    lsn: int = field(init=False)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.alive = np.zeros(self.n_base * 4, dtype=bool)
        self.alive[: self.n_base] = True
        self.next_id = self.n_base
        self.lsn = self.n_base

    def base(self) -> pd.DataFrame:
        n = self.n_base
        rng = np.random.default_rng(self.seed + 1)
        return pd.DataFrame({
            "id": np.arange(n, dtype=np.int64),
            "name": np.array(_NAMES)[rng.integers(0, len(_NAMES), n)],
            "amount": np.round(rng.uniform(0, 1000, n), 2),
            "_cdc_op": "INSERT",
            "_cdc_lsn": np.arange(n, dtype=np.int64),
        })

    def _recent_live_key(self) -> int:
        hi = self.next_id
        k = hi - 1 - int(min(self.window, hi) * self.rng.random() ** 2)
        while k >= 0 and not self.alive[k]:
            k -= 1
        if k < 0:
            k = int(np.flatnonzero(self.alive[:hi])[-1])
        return k

    def next_batch(self) -> pd.DataFrame:
        rng = self.rng
        ids, ops, touched = [], [], []
        for _ in range(self.batch_size):
            u = rng.random()
            if u < self.p_insert:
                k, op = self.next_id, "INSERT"
                self.next_id += 1
                if self.next_id >= len(self.alive):
                    self.alive = np.concatenate([self.alive, np.zeros_like(self.alive)])
                self.alive[k] = True
            else:
                op = "DELETE" if u < self.p_insert + self.p_delete else "UPDATE"
                k = -1
                if touched and rng.random() < self.p_repeat / (1 - self.p_insert):
                    k = touched[int(rng.integers(0, len(touched)))]
                if k < 0 or not self.alive[k]:
                    k = self._recent_live_key()
                if op == "DELETE":
                    self.alive[k] = False
            ids.append(k)
            ops.append(op)
            touched.append(k)
        n = self.batch_size
        lsn = self.lsn + np.cumsum(rng.integers(1, 10, n))
        self.lsn = int(lsn[-1])
        return pd.DataFrame({
            "id": np.array(ids, dtype=np.int64),
            "name": np.array(_NAMES)[rng.integers(0, len(_NAMES), n)],
            "amount": np.round(rng.uniform(0, 1000, n), 2),
            "_cdc_op": ops,
            "_cdc_lsn": lsn.astype(np.int64),
        })


def fold(state: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """Expected table after applying ``batch`` to ``state``: the last
    change per key by LSN wins, deleted keys are dropped. ``state`` and the
    result are indexed by ``id``."""
    latest = batch.sort_values("_cdc_lsn").drop_duplicates("id", keep="last")
    latest = latest.set_index("id")
    kept = state.drop(index=latest.index, errors="ignore")
    upserts = latest[latest["_cdc_op"] != "DELETE"]
    return pd.concat([kept, upserts]).sort_index()
