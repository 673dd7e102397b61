"""Seeded input generation for the benchmark, done before any timing.

Everything here is plain Python, NumPy and pyarrow: the engine sees
only the files written, never the generator. The same seed gives the
same files byte for byte, and the expected results the workloads check
against are computed from the same rows in plain Python.
"""

from __future__ import annotations

import datetime
import os
import random
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EYE_COLORS = ("brown", "blue", "green")

_DDL_TYPES = {
    "string": pa.string(),
    "int": pa.int32(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def arrow_schema(ddl: str) -> pa.Schema:
    """pyarrow schema for a flat Spark DDL string such as the engine's
    ``USER_SCHEMA`` ("guid string, age int, ...")."""
    fields = []
    for part in ddl.split(","):
        name, typ = part.split()
        fields.append(pa.field(name, _DDL_TYPES[typ]))
    return pa.schema(fields)


def _balance(rng: random.Random) -> str:
    # '$#,##0.00': amounts of $1,000 and up carry the comma that makes
    # the reference's CAST(substring(balance FROM 2) AS DOUBLE) NULL.
    cents = rng.randrange(100_00, 4_000_00)
    return f"${cents // 100:,d}.{cents % 100:02d}"


def user_rows(rng: random.Random, n: int, names: list[str] | None = None) -> list[dict]:
    """JR-style ``user`` rows; ``names`` overrides the name column (the
    churn workload's skewed per-user key)."""
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for i in range(n):
        rows.append(
            {
                "guid": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
                "eyeColor": rng.choice(EYE_COLORS),
                "age": rng.randint(18, 65),
                "balance": _balance(rng),
                "name": names[i] if names is not None else f"user_{rng.randrange(10**6)}",
                "registered": base - datetime.timedelta(seconds=rng.randrange(2 * 365 * 86400)),
            }
        )
    return rows


def write_parquet(rows: list[dict], schema: pa.Schema, path: str) -> None:
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path)


def zipf_names(seed: int, n: int, n_keys: int, s: float = 1.1) -> list[str]:
    """``n`` key draws from a Zipf(s) law over ``n_keys`` names, ranks
    shuffled so hot keys are not the lexically first ones."""
    gen = np.random.default_rng(seed)
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    perm = gen.permutation(n_keys)
    draws = perm[gen.choice(n_keys, size=n, p=p)]
    return [f"u{k:05d}" for k in draws]


# -- the batch catalog (documents and events) -------------------------------
#
# Shaped after the repository's sf0.1 test tables (5,000 documents,
# 100,000 events), as measured from them: document text is 10 to 100
# words drawn uniformly from a 30-word vocabulary; one document in
# twenty is another document's text with the marker word "dup" appended;
# `lang` is 41% "en" and 15% each of four others; `source` cycles
# through 20 values; `n_chars` is the text's length. Events are spread
# uniformly over 30 days in time order over about one user per 67
# events, five equally likely types, values exponential with mean 50
# rounded to cents, and `props` a JSON object with `k` in 0..99.

_VOCAB = (
    "the a data row column table key value query join hash sort merge "
    "scan filter group agg order batch stream window spark vector big "
    "small fast slow part line customer"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_WEIGHTS = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENTS_PER_USER = 100_000 / 1_500


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100))) for _ in range(n_docs)]
    originals = list(texts)
    for i in rng.sample(range(n_docs), n_docs // 20):
        j = rng.randrange(n_docs - 1)  # any other document
        texts[i] = originals[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choices(_LANGS, _LANG_WEIGHTS, k=n_docs), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events(seed: int, n: int) -> pa.Table:
    gen = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(gen.integers(0, 30 * 86400 * 10**6, size=n)).astype("timedelta64[us]")
    n_users = max(1, round(n / EVENTS_PER_USER))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(gen.integers(0, n_users, size=n, dtype=np.int64)),
            "event_type": pa.array(np.array(_EVENT_TYPES)[gen.integers(0, 5, size=n)].tolist(), pa.string()),
            "value": pa.array(np.round(gen.exponential(50.0, size=n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in gen.integers(0, 100, size=n)], pa.string()),
        }
    )


def write_catalog(seed: int, sf_dir: str, n_docs: int, n_events: int) -> dict[str, int]:
    """Write the tables the batch workload reads as ``<name>.parquet``
    under ``sf_dir`` (the engine's catalog layout). Returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    tables = {"documents": documents(seed, n_docs), "events": events(seed + 1, n_events)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
