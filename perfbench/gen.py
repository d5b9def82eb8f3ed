"""Deterministic input generator for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: numpy's PCG64 stream
drives every column, and parquet is written with fixed writer options, so
the same seed gives byte-identical files and another seed changes them.
``digest()`` hashes the written bytes; the runner prints it.

The ``events`` schema matches the engine's ``EVENTS_SCHEMA`` (``event_id``,
``ts``, ``user_id``, ``event_type``, ``value``, ``props``).  ``props`` is a
JSON object with five keys, ``tier`` missing on 5% of rows so predicates on
it meet the UNKNOWN (null) case.  ``user_id`` is Zipf-skewed.  Besides the
parquet bytes, each generator returns the raw numpy columns, which the
correctness checks evaluate predicates over without Spark.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_TYPE_P = [0.3, 0.25, 0.2, 0.1, 0.15]
TIERS = np.array(["bronze", "silver", "gold", "platinum"])
TIER_P = [0.40, 0.25, 0.20, 0.10]  # remaining 0.05: key absent
REGIONS = np.array(["eu", "us", "apac", "latam"])
REGION_P = [0.35, 0.30, 0.20, 0.15]
N_USERS = 1500
_TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
_DAY_US = 86_400_000_000

_WRITE_OPTS = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, *stream]))


@dataclass
class Events:
    """Raw columns of one generated events slice (tier code -1 = absent)."""

    event_id: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray
    value: np.ndarray
    k: np.ndarray
    tier: np.ndarray
    region: np.ndarray
    retry: np.ndarray
    score: np.ndarray

    def __len__(self) -> int:
        return len(self.event_id)

    @staticmethod
    def concat(parts: list["Events"]) -> "Events":
        return Events(
            *(np.concatenate([getattr(p, f) for p in parts]) for f in Events.__dataclass_fields__)
        )


def events(seed: int, stream: int, n: int, first_id: int, days: int = 30) -> tuple[pa.Table, Events]:
    """``n`` events with ids ``first_id ..``, timestamps sorted over ``days``."""
    rng = _rng(seed, 1, stream)
    event_id = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = _TS0_US + np.sort(rng.integers(0, days * _DAY_US, n))
    user_id = ((rng.zipf(1.3, n) - 1) % N_USERS).astype(np.int64)
    etype = rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)
    value_c = np.minimum(rng.exponential(8000.0, n).astype(np.int64), 60000)
    k = rng.integers(0, 100, n)
    tier = rng.choice(len(TIERS) + 1, n, p=TIER_P + [0.05])
    tier[tier == len(TIERS)] = -1
    region = rng.choice(len(REGIONS), n, p=REGION_P)
    retry = rng.integers(0, 6, n)
    score_c = rng.integers(0, 101, n)
    props = [
        (
            f'{{"k": {a}, "tier": "{TIERS[t]}", "region": "{REGIONS[r]}", '
            f'"retry": {b}, "score": {c / 100}}}'
            if t >= 0
            else f'{{"k": {a}, "region": "{REGIONS[r]}", "retry": {b}, "score": {c / 100}}}'
        )
        for a, t, r, b, c in zip(k.tolist(), tier.tolist(), region.tolist(), retry.tolist(), score_c.tolist())
    ]
    value = value_c / 100.0
    table = pa.table(
        {
            "event_id": event_id,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": user_id,
            "event_type": EVENT_TYPES[etype],
            "value": value,
            "props": props,
        }
    )
    raw = Events(event_id, user_id, EVENT_TYPES[etype], value, k, tier, region, retry, score_c / 100.0)
    return table, raw


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **_WRITE_OPTS)


def digest(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` in order (first 16 hex digits)."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]
