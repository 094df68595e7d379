"""Seeded benchmark inputs and their reference digests.

Everything here runs outside the timed region and outside set-up time,
and is cached per seed under the benchmark's work directory:

- ``data/``: the ten catalog tables: the sf0.01 test tables committed
  under ``fixture/``, transformed by the seed as ``scripts/inflate_sf.py``
  transforms a replica: ``event_id`` is offset, so the sky positions the
  spatial ops derive from ``md5(event_id)`` move, and the rows of every
  fact table are permuted. Schemas, values and the single row group stay.
- ``ingest/``: the nightly-ingest script: one staged parquet file per
  night, the merge corrections, and the freshness probe's snapshots.
- ``inputs.json``: table sizes; for every op of the read workload, the
  canonical row digest of its DuckDB oracle (``registry.ORACLES``) over
  ``data/``; and the ingest steps with the totals a correct table must
  show after each of them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when the transform changes, so cached inputs are rebuilt.
GENERATOR = "f1"

# The sf0.01 test tables, committed byte for byte: the schemas (``ts``
# columns are parquet TIMESTAMP(MICROS) in this data), value
# distributions and single row group of the data the engine serves.
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
# tables whose rows a seed permutes (the fact tables of scripts/inflate_sf.py)
FACT = ("customer", "supplier", "part", "orders", "lineitem", "events",
        "documents", "embeddings")

NIGHTS = 2
MERGE_EVERY = 2  # nights between merge + delete rounds
COMPACT_EVERY = 2  # nights between compactions
CORRECTIONS = 40  # rows a merge round corrects
RETRACTION = 60  # consecutive events a delete round retracts


def event_id_base(seed: int) -> int:
    return (seed % 100_000) * 1_000_000


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The fixture tables transformed by ``seed`` (same seed, same
    tables): ``event_id`` is offset, so the sky positions the spatial ops
    derive from ``md5(event_id)`` move, and the rows of every fact table
    are permuted. Other key domains stay as they are, because some ops
    pick query rows by a literal key (``vec_id < 20``)."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    for name in TABLES:
        t = pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))
        if name == "events":
            i = t.schema.get_field_index("event_id")
            off = pa.scalar(event_id_base(seed), t.schema.field(i).type)
            t = t.set_column(i, t.schema.field(i), pc.add_checked(t.column(i), off))
        if name in FACT:
            t = t.take(pa.array(rng.permutation(t.num_rows)))
        out[name] = t
    return out


def write_parquet(t: pa.Table, path: str) -> None:
    pq.write_table(t, path, row_group_size=max(1, t.num_rows))


def digest(pdf: pd.DataFrame) -> dict:
    """Order-insensitive row digest, canonicalised exactly as the
    differential tests do (``tests.test_oracle.canon_rows``)."""
    from tests.test_oracle import canon_rows

    cols, rows = canon_rows(pdf)
    sha = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return {"rows": len(rows), "sha256": sha}


def duck_views(data_dir: str, tables):
    con = duckdb.connect()
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def cents(values) -> np.ndarray:
    """Exact integer cents, the same formula the ingest reads use."""
    return np.floor(np.asarray(values, dtype=np.float64) * 100 + 0.5).astype(np.int64)


def _totals(values: pd.Series) -> list[int]:
    return [int(len(values)), int(cents(values.to_numpy()).sum())]


def make_ingest(events: pa.Table, seed: int, out: str, probe_sql: str) -> dict:
    """Stage the nightly-ingest script under ``out``. The seed cuts the
    time-ordered events into nights and picks each merge's corrected
    rows and each delete's retracted ``event_id`` window. The expected
    totals come from replaying the script on ``live``, a value series
    keyed by ``event_id``. After each night, ``probe-NN.parquet`` holds
    the rows committed so far, with the digest of ``probe_sql`` over
    them, for the freshness probe."""
    rng = np.random.default_rng([seed, 1])
    ev = events.sort_by("event_id")
    n = ev.num_rows
    ids = ev.column("event_id").to_numpy()
    value = pd.Series(ev.column("value").to_numpy(), index=ids)
    cuts = np.sort(rng.choice(np.arange(n // 20, n - n // 20), NIGHTS - 1, replace=False))
    bounds = np.concatenate([[0], cuts, [n]])
    live = value.iloc[:0]
    nights: list[dict] = []
    steps: list[dict] = []
    for i in range(NIGHTS):
        b0, b1 = int(bounds[i]), int(bounds[i + 1])
        name = f"night-{i:02d}.parquet"
        write_parquet(ev.slice(b0, b1 - b0), os.path.join(out, name))
        live = pd.concat([live, value.iloc[b0:b1]])
        nights.append({
            "file": name, "lo": int(ids[b0]), "hi": int(ids[b1 - 1]),
            "night_totals": _totals(value.iloc[b0:b1]), "totals": _totals(live),
        })
        if (i + 1) % MERGE_EVERY == 0:
            pick = np.sort(rng.choice(live.index.to_numpy(), CORRECTIONS, replace=False))
            new = np.round(live[pick].to_numpy() + rng.uniform(-5.0, 5.0, len(pick)), 2)
            new = np.maximum(new, 0.0)
            src = ev.take(pa.array(np.searchsorted(ids, pick)))
            src = src.set_column(src.schema.get_field_index("value"), "value", pa.array(new))
            name = f"merge-{i:02d}.parquet"
            write_parquet(src, os.path.join(out, name))
            live[pick] = new
            steps.append({"after": i, "kind": "merge", "file": name, "totals": _totals(live)})
            start = int(rng.integers(0, len(live) - RETRACTION))
            d_lo, d_hi = int(live.index[start]), int(live.index[start + RETRACTION - 1])
            live = live[(live.index < d_lo) | (live.index > d_hi)]
            steps.append({"after": i, "kind": "delete", "lo": d_lo, "hi": d_hi,
                          "totals": _totals(live)})
        if (i + 1) % COMPACT_EVERY == 0:
            steps.append({"after": i, "kind": "compact", "totals": _totals(live)})
        snap = ev.take(pa.array(np.searchsorted(ids, live.index.to_numpy())))
        snap = snap.set_column(
            snap.schema.get_field_index("value"), "value", pa.array(live.to_numpy())
        )
        name = f"probe-{i:02d}.parquet"
        write_parquet(snap, os.path.join(out, name))
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW events AS SELECT * FROM '{os.path.join(out, name)}'")
            nights[-1]["probe"] = {"file": name, **digest(con.sql(probe_sql).df())}
        finally:
            con.close()
    return {"nights": nights, "steps": steps}


def _build(seed: int, dest: str, oracles: dict, read_ops: list[str], probe_op: str) -> None:
    os.makedirs(os.path.join(dest, "data"))
    os.makedirs(os.path.join(dest, "ingest"))
    tables = make_tables(seed)
    meta = {"seed": seed, "generator": GENERATOR, "tables": {}}
    for name, t in tables.items():
        p = os.path.join(dest, "data", f"{name}.parquet")
        write_parquet(t, p)
        meta["tables"][name] = {"rows": t.num_rows, "bytes": os.path.getsize(p)}
    con = duck_views(os.path.join(dest, "data"), tables)
    try:
        meta["digests"] = {op: digest(con.sql(oracles[op]).df()) for op in read_ops}
    finally:
        con.close()
    meta["ingest"] = make_ingest(
        tables["events"], seed, os.path.join(dest, "ingest"), oracles[probe_op]
    )
    with open(os.path.join(dest, "inputs.json"), "w") as fh:
        json.dump(meta, fh, indent=1)


def prepare(
    cache_dir: str, seed: int, oracles: dict, read_ops: list[str], probe_op: str
) -> tuple[str, dict]:
    """Return (inputs dir, its ``inputs.json``) for ``seed``, building
    and caching them on first use or when the cache lacks an op's digest.
    A half-built directory never becomes visible: the build goes to a
    private directory that is renamed."""
    dest = os.path.join(cache_dir, f"seed-{seed}-{GENERATOR}")
    meta = _cached(dest, read_ops)
    if meta is None:
        os.makedirs(cache_dir, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".build-", dir=cache_dir)
        try:
            _build(seed, os.path.join(tmp, "x"), oracles, read_ops, probe_op)
            shutil.rmtree(dest, ignore_errors=True)
            os.rename(os.path.join(tmp, "x"), dest)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        meta = _cached(dest, read_ops)
    return dest, meta


def _cached(dest: str, read_ops: list[str]) -> dict | None:
    """The cached ``inputs.json`` if it has a digest for every op."""
    try:
        with open(os.path.join(dest, "inputs.json")) as fh:
            meta = json.load(fh)
    except FileNotFoundError:
        return None
    return meta if all(op in meta["digests"] for op in read_ops) else None
