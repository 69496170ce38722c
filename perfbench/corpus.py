"""Seeded JSONL corpus for the relationalize workloads, and the
pure-Python walk that predicts what relationalizing it must produce.

One object per line. Each object has:

- mixed-type top-level keys: ``ts`` is an epoch int or an ISO string,
  ``amount`` an int or a float;
- a 2-deep struct (``user.geo``);
- a scalar array (``tags``);
- an array of structs holding arrays (``items[].opts``,
  ``items[].discounts[]`` with int|float ``pct``, ``items[].legs[].hops``);
- a second struct array whose elements hold a struct array
  (``events[].attrs[]`` with int|str ``v``; ``events[].at`` int|str).

That gives nine derived tables. Empty arrays appear (their parent cell
still gets a rid, with no child rows). Values are never null, so every
column the walk predicts has at least one non-null value.
"""

from __future__ import annotations

import json
import random
from collections.abc import Iterable
from dataclasses import dataclass, field

ROOT = "root"
DELIM = "_"
_WORDS = (
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
)
_COUNTRIES = ("US", "DE", "FR", "JP", "BR", "IN", "NG", "CA")
_HUBS = ("AMS", "FRA", "JFK", "NRT", "GRU", "BOM", "LOS", "YYZ")
_KINDS = ("view", "click", "cart", "purchase", "refund")


def _iso(epoch: int) -> str:
    days, rem = divmod(epoch - 1_700_000_000, 86_400)
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    return f"2023-11-{14 + days % 14:02d}T{h:02d}:{m:02d}:{s:02d}Z"


def _ts(rng: random.Random) -> int | str:
    epoch = 1_700_000_000 + rng.randrange(14 * 86_400)
    return epoch if rng.random() < 0.7 else _iso(epoch)


def _amount(rng: random.Random) -> int | float:
    if rng.random() < 0.5:
        return rng.randrange(1, 5000)
    return rng.randrange(100, 500_000) / 100 + 0.005


def make_object(rng: random.Random, oid: int) -> dict:
    def item() -> dict:
        return {
            "sku": f"SKU-{rng.randrange(10_000):05d}",
            "qty": rng.randrange(1, 10),
            "price": rng.randrange(100, 100_000) / 100 + 0.005,
            "opts": [rng.choice(_WORDS) for _ in range(rng.randrange(0, 4))],
            "discounts": [
                {
                    "code": rng.choice(_WORDS).upper(),
                    "pct": rng.randrange(1, 50)
                    if rng.random() < 0.6
                    else rng.randrange(1, 500) / 10 + 0.05,
                }
                for _ in range(rng.randrange(0, 3))
            ],
            "legs": [
                {
                    "hub": rng.choice(_HUBS),
                    "hops": [rng.randrange(100) for _ in range(rng.randrange(0, 4))],
                }
                for _ in range(rng.randrange(0, 3))
            ],
        }

    def event() -> dict:
        return {
            "kind": rng.choice(_KINDS),
            "at": _ts(rng),
            "attrs": [
                {
                    "k": rng.choice(_WORDS),
                    "v": rng.randrange(1000) if rng.random() < 0.5 else rng.choice(_WORDS),
                }
                for _ in range(rng.randrange(0, 3))
            ],
        }

    return {
        "id": oid,
        "ts": _ts(rng),
        "amount": _amount(rng),
        "active": rng.random() < 0.5,
        "user": {
            "name": f"user{rng.randrange(1_000_000)}",
            "geo": {
                "cc": rng.choice(_COUNTRIES),
                "lat": rng.randrange(-9000, 9000) / 100 + 0.005,
            },
        },
        "tags": [rng.choice(_WORDS) for _ in range(rng.randrange(0, 5))],
        "items": [item() for _ in range(rng.randrange(0, 4))],
        "events": [event() for _ in range(rng.randrange(0, 4))],
    }


def generate(seed: int | str, n: int, start_id: int = 0) -> list[dict]:
    """``n`` objects; the same ``(seed, n, start_id)`` gives the same list."""
    rng = random.Random(seed)
    return [make_object(rng, start_id + i) for i in range(n)]


def to_jsonl(objs: Iterable[dict]) -> str:
    return "".join(json.dumps(o, separators=(", ", ": ")) + "\n" for o in objs)


def write_jsonl(path: str, objs: Iterable[dict]) -> int:
    """Write one object per line; returns the byte count."""
    data = to_jsonl(objs).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# -- the expected relationalize output ----------------------------------------


def tag_of(value) -> str:
    """The reference's per-value type tag."""
    if isinstance(value, bool):
        return "bool"
    if isinstance(value, int):
        return "int"
    if isinstance(value, float):
        return "float"
    if isinstance(value, str):
        return "str"
    raise TypeError(f"unexpected leaf {value!r}")


@dataclass
class Expected:
    """Per table: row count, observed tags per column, and the parent
    table and column that each child's ``{path}__rid_`` points into."""

    rows: dict[str, int] = field(default_factory=dict)
    tags: dict[str, dict[str, set[str]]] = field(default_factory=dict)
    parent: dict[str, tuple[str, str]] = field(default_factory=dict)

    def columns(self, table: str) -> set[str]:
        """Output columns after choice conversion: a column seen with
        more than one tag splits into ``{col}_{tag}`` per tag."""
        out: set[str] = set()
        for col, tags in self.tags[table].items():
            if len(tags) == 1:
                out.add(col)
            else:
                out.update(f"{col}_{t}" for t in tags)
        return out

    def add(self, other: "Expected") -> None:
        for t, n in other.rows.items():
            self.rows[t] = self.rows.get(t, 0) + n
        for t, cols in other.tags.items():
            mine = self.tags.setdefault(t, {})
            for c, tags in cols.items():
                mine.setdefault(c, set()).update(tags)
        self.parent.update(other.parent)


def expected_tables(objs: Iterable[dict], root: str = ROOT) -> Expected:
    """Walk the objects the way the reference relationalize does: struct
    fields flatten to ``{parent}_{child}``; every array path ``p``
    becomes table ``{root}_{p}`` with ``{p}__rid_``, ``{p}__index_`` and,
    for scalar or array elements, ``{p}__val_``."""
    exp = Expected()

    def emit(table: str, row: dict) -> None:
        exp.rows[table] = exp.rows.get(table, 0) + 1
        cols = exp.tags.setdefault(table, {})
        for k, v in row.items():
            cols.setdefault(k, set()).add(v)

    def flatten(obj: dict, prefix: str, row: dict, table: str) -> None:
        for k, v in obj.items():
            path = f"{prefix}{DELIM}{k}" if prefix else k
            if isinstance(v, dict):
                flatten(v, path, row, table)
            elif isinstance(v, list):
                row[path] = "str"
                explode(v, path, table)
            else:
                row[path] = tag_of(v)

    def explode(arr: list, path: str, parent_table: str) -> None:
        child = f"{root}{DELIM}{path}"
        exp.parent[child] = (parent_table, path)
        exp.tags.setdefault(child, {})
        exp.rows.setdefault(child, 0)
        for elem in arr:
            row = {f"{path}__rid_": "str", f"{path}__index_": "int"}
            if isinstance(elem, dict):
                flatten(elem, path, row, child)
            elif isinstance(elem, list):
                row[f"{path}__val_"] = "str"
                explode(elem, f"{path}__val_", child)
            else:
                row[f"{path}__val_"] = tag_of(elem)
            emit(child, row)

    for obj in objs:
        row: dict[str, str] = {}
        flatten(obj, "", row, root)
        emit(root, row)
    return exp
