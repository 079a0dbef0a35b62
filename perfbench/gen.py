"""Seeded inputs for the benchmark, and the model the outputs are checked
against.

``ChangeLog`` produces Datastream envelopes (the shape the reference's
Datastream -> GCS producer writes: ``object``, ``source_timestamp``,
``source_metadata.change_type``, ``payload``) for the two tables of the
reference's registry. Keys repeat, so every key carries a version chain of
INSERT / UPDATE-INSERT / DELETE, and a DELETE may be followed by a
re-INSERT. About 1% of lines are unmapped objects or truncated (corrupt)
JSON. The table and action mix are assumptions; README.md gives the
reason for each value.

The generator keeps its own model of every chain. The checks compare the
engine's results with that model, never with Spark's own output.

``write_tables`` writes the parquet tables the registry slice reads, with
the schemas and value domains the registry queries expect.
"""

from __future__ import annotations

import bisect
import copy
import json
import os
import random
from datetime import datetime, timedelta, timezone

from cdc_streamming___v2_spark.sources.conformance import CONFORMANCE_REGISTRY

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
STEP_S = 3  # seconds between consecutive changes: unique, ordered timestamps

# source table -> primary key of the source row, which Datastream carries
# in every payload. The reference registry declares olist_produtos with its
# key and a STRING update_date, and olist_users without its key and with a
# TIMESTAMP update_date, so users' history rows hold no key: they count in
# conservation, and the keyed reads go to olist_produtos.
KEYS = {"olist_produtos": "product_id", "olist_users": "user_id"}
WEIGHTS = (0.5, 0.5)  # share of changes per table, in KEYS order
# action mix of one change to a table with live keys
INSERT_SHARE = 0.30
UPDATE_SHARE = 0.55  # the remaining 0.15 are DELETEs
REINSERT_SHARE = 0.2  # of INSERTs, when a deleted key is available
UNMAPPED_OBJECT = "olist_reviews"
BAD_SHARE = 0.005  # each of: unmapped object, corrupt line

_CATEGORIES = ("toys", "games", "books", "garden", "health", "sports")
_NAMES = ("ana", "bruno", "carla", "davi", "eva", "felipe", "gabi", "hugo")


def registry_doc() -> dict:
    """The reference's registry (data-stream.json), as the engine's
    conformance corpus mirrors it."""
    return copy.deepcopy(CONFORMANCE_REGISTRY)


_DAYS: dict[int, str] = {}


def source_ts(i: int) -> str:
    """``source_timestamp`` of change ``i``: ISO 8601, UTC. A STRING
    ``update_date`` keeps it verbatim, so it is also the as-of bound for
    olist_produtos; its fixed width makes text order time order."""
    d, s = divmod(i * STEP_S, 86400)
    day = _DAYS.get(d)
    if day is None:
        day = _DAYS[d] = (EPOCH + timedelta(days=d)).strftime("%Y-%m-%d")
    return f"{day}T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}Z"


class _Keys:
    """A set with O(1) random choice and removal."""

    def __init__(self):
        self.items: list = []
        self.pos: dict = {}

    def add(self, k) -> None:
        self.pos[k] = len(self.items)
        self.items.append(k)

    def remove(self, k) -> None:
        i = self.pos.pop(k)
        last = self.items.pop()
        if i < len(self.items):
            self.items[i] = last
            self.pos[last] = i

    def pick(self, rng: random.Random):
        return self.items[rng.randrange(len(self.items))]


class ChangeLog:
    """Deterministic envelope stream. Every call to ``lines`` continues the
    same sequence and the same model."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.i = 0  # next change index (timestamp = EPOCH + i * STEP_S)
        self.live = {t: _Keys() for t in KEYS}
        self.dead = {t: _Keys() for t in KEYS}
        self.next_key = {t: 0 for t in KEYS}
        # model: table -> key -> [(change index, action)], oldest first
        self.chains: dict[str, dict] = {t: {} for t in KEYS}
        self.routed = {t: 0 for t in KEYS}
        self.dead_letters = 0

    def _change(self, table: str) -> tuple:
        r = self.rng
        live, dead = self.live[table], self.dead[table]
        u = r.random()
        if not live.items or u < INSERT_SHARE:
            action = "INSERT"
            if dead.items and r.random() < REINSERT_SHARE:
                key = dead.pick(r)
                dead.remove(key)
            else:
                key = f"{table[6]}{self.next_key[table]}"
                self.next_key[table] += 1
            live.add(key)
        elif u < INSERT_SHARE + UPDATE_SHARE:
            action, key = "UPDATE-INSERT", live.pick(r)
        else:
            action, key = "DELETE", live.pick(r)
            live.remove(key)
            dead.add(key)
        return action, key

    def _payload(self, table: str, key: str, action: str) -> str:
        """The row image as JSON text. Every value is a plain ASCII string
        or a number, so formatting it directly matches ``json.dumps``."""
        head = f'{{"{KEYS[table]}":"{key}"'
        if action == "DELETE":
            return head + "}"  # the reference lands a DELETE as a blank row
        r = self.rng
        if table == "olist_produtos":
            rest = (f'"product_category_name":"{r.choice(_CATEGORIES)}",'
                    f'"product_photos_qty":{r.randrange(1, 9)},'
                    f'"product_weight_g":{round(r.uniform(50, 5000), 1)!r}')
        else:
            name = r.choice(_NAMES)
            rest = f'"first_name":"{name}","email":"{name}{r.randrange(10**6)}@x.com"'
        return f"{head},{rest}}}"

    def lines(self, n: int) -> list[str]:
        out = []
        r = self.rng
        tables = tuple(KEYS)
        for _ in range(n):
            i = self.i
            self.i += 1
            src_ts = source_ts(i)
            u = r.random()
            if u < 2 * BAD_SHARE:
                self.dead_letters += 1
                line = (f'{{"object":"{UNMAPPED_OBJECT}","source_timestamp":"{src_ts}",'
                        f'"source_metadata":{{"change_type":"INSERT"}},'
                        f'"payload":{{"review_id":{i},"score":{r.randrange(1, 6)}}}}}')
                if u < BAD_SHARE:
                    line = line[: len(line) // 2]  # corrupt: truncated JSON
                out.append(line)
                continue
            table = r.choices(tables, WEIGHTS)[0]
            action, key = self._change(table)
            self.chains[table].setdefault(key, []).append((i, action))
            self.routed[table] += 1
            out.append(
                f'{{"uuid":"{r.getrandbits(128):032x}","read_method":"mysql-cdc-binlog",'
                f'"object":"{table}","source_timestamp":"{src_ts}",'
                f'"source_metadata":{{"table":"{table[6:]}","database":"olist",'
                f'"primary_keys":["{KEYS[table]}"],"log_file":"mysql-bin.000001",'
                f'"log_position":{4 + 97 * i},"change_type":"{action}",'
                f'"is_deleted":{"true" if action == "DELETE" else "false"}}},'
                f'"payload":{self._payload(table, key, action)}}}')
        return out

    # -- the model ------------------------------------------------------------

    def latest_count(self, table: str) -> int:
        return sum(c[-1][1] != "DELETE" for c in self.chains[table].values())

    def as_of_count(self, table: str, upto_i: int) -> int:
        """Keys whose newest change with index <= upto_i is not a DELETE."""
        n = 0
        for chain in self.chains[table].values():
            j = bisect.bisect_right(chain, upto_i, key=lambda c: c[0]) - 1
            if j >= 0 and chain[j][1] != "DELETE":
                n += 1
        return n

    def chain_len(self, table: str, key) -> int:
        return len(self.chains[table][key])

    def pick_keys(self, table: str, n: int, rng: random.Random) -> list:
        """Keys with a chain of at least two versions, drawn from ``rng``."""
        keys = sorted(k for k, c in self.chains[table].items() if len(c) > 1)
        return [keys[rng.randrange(len(keys))] for _ in range(n)]


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


# -- registry-slice tables ----------------------------------------------------


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """The tables the registry slice reads (``events``, ``orders``), with
    the testdata schemas and value domains, at ``scale`` (1.0 ~ 1.5M
    orders, 1M events). Returns the row count of each table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def ts_us(start: str, n: int, days: int, whole_days: bool):
        base = np.datetime64(start, "us")
        if whole_days:
            off = g.integers(0, days, n).astype("timedelta64[D]")
        else:
            off = g.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
        return pa.array(base + off, pa.timestamp("us"))

    n_orders = int(1_500_000 * scale)
    n_events = int(1_000_000 * scale)
    n_users = max(20, int(15_000 * scale))
    save("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": g.integers(0, int(150_000 * scale) + 1, n_orders),
        "o_orderstatus": g.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(g.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": ts_us("1995-01-01", n_orders, 2404, True),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    save("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts_us("2024-01-01", n_events, 30, False),
        "user_id": g.integers(0, n_users, n_events),
        "event_type": g.choice(["view", "click", "purchase", "signup", "error"],
                               n_events),
        "value": np.round(g.uniform(0.01, 490.0, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in g.integers(0, 100, n_events)]})
    return {"orders": n_orders, "events": n_events}
