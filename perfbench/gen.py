"""Seeded input generators. The engine only ever sees the files written
here; the same seed always writes the same files.

Inputs are cached per seed (and per generator version) under the run's
cache root, so a repeated seed skips generation. Generation is never inside
a timed region and is reported on its own (``input.gen_s``).

The generated ``events`` follow the sf0.1 fixture's schema, but unlike the
fixture (no null ``event_type``, 185-byte mean payload) they carry a seeded
share of invalid events, which exercises the envelope's reject path, and a
seeded tail of payloads above the sink's 1 KiB threshold, which exercises
the chunker's oversized-item rule. ``documents`` and ``embeddings`` follow
the fixture's shapes: a 30-word vocabulary, a 5% share of near-duplicates
(a copy of an earlier document plus one token), a few exact copies, and
random unit vectors in 64 dimensions.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator's output changes, so stale caches are not reused.
GEN_VERSION = 3

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, as the fixture
BIG_PAD = (1100, 2000)  # padding of an oversized payload, in characters

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
EMBED_DIM = 64
CURATION_PARTS = 4


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): changing one input kind
    never shifts the draws of another."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


# File counts of a bulk event set. Spark packs small files into one scan
# partition per core; a count that is a multiple of the 4-core host's
# core count packs into equal partitions, so the seed changes how the
# events are laid out, not how much work the busiest core does.
EVENT_FILES = (8, 12)


def event_mix(seed: int) -> dict:
    """The seeded properties of an event set. Ranges stay narrow on
    purpose: they change which code paths run, not how much work there is,
    so runs on different seeds stay comparable."""
    r = _rng(seed, "event-mix")
    return {
        "invalid_share": float(r.uniform(0.03, 0.05)),
        "big_share": float(r.uniform(0.010, 0.015)),
        "files": int(r.choice(EVENT_FILES)),
    }


def events_table(r: np.random.Generator, first_id: int, n: int, mix: dict) -> pa.Table:
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = TS_BASE_US + first_id * 20_000 + np.cumsum(r.integers(1, 40_000, n))
    etype = r.choice(np.array(EVENT_TYPES, dtype=object), n)
    etype[r.random(n) < mix["invalid_share"]] = None
    cents = r.integers(1, 50_000, n)
    k = r.integers(0, 100, n)
    big = r.random(n) < mix["big_share"]
    pad = r.integers(BIG_PAD[0], BIG_PAD[1], n)
    props = [
        json.dumps({"k": int(k[i]), "note": "x" * int(pad[i])}) if big[i]
        else json.dumps({"k": int(k[i])})
        for i in range(n)
    ]
    return pa.table(
        {
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": r.integers(0, 5_000, n, dtype=np.int64),
            "event_type": pa.array(etype, pa.string()),
            "value": cents / 100.0,
            "props": props,
        },
        schema=EVENT_SCHEMA,
    )


def _cached(root: str, key: str, build) -> str:
    """Build into a temp dir and rename into place: a crash mid-build never
    leaves a half-written cache entry behind."""
    path = os.path.join(root, f"v{GEN_VERSION}-{key}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    return path


def event_files(root: str, seed: int, total: int, tag: str) -> str:
    """``total`` events over the seed's file count, one parquet per file
    (files differ in size by at most one event)."""

    def build(d: str) -> None:
        mix = event_mix(seed)
        r = _rng(seed, f"events-{tag}")
        bounds = np.linspace(0, total, mix["files"] + 1).astype(int)
        for i in range(mix["files"]):
            lo, hi = int(bounds[i]), int(bounds[i + 1])
            pq.write_table(
                events_table(r, lo, hi - lo, mix),
                os.path.join(d, f"part-{i:03d}.parquet"),
            )

    return _cached(root, f"events-{tag}-{seed}-{total}", build)


def stream_files(root: str, seed: int, n_files: int, per_file: int) -> str:
    """Small event files for the open-loop stream; file i holds event ids
    [i * per_file, (i + 1) * per_file), so an id names its file."""

    def build(d: str) -> None:
        mix = event_mix(seed)
        r = _rng(seed, "stream")
        for i in range(n_files):
            pq.write_table(
                events_table(r, i * per_file, per_file, mix),
                os.path.join(d, f"f{i:05d}.parquet"),
            )

    return _cached(root, f"stream-{seed}-{n_files}x{per_file}", build)


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    """One table as a directory of ``parts`` parquet files (Spark and
    DuckDB both read the directory as the table)."""
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def curation_tables(root: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """A fixture-shaped ``documents`` + ``embeddings`` pair (the tables the
    curation queries read), as an sf directory. Each table is split into
    ``CURATION_PARTS`` files, so its scans run one task per core."""

    def build(d: str) -> None:
        r = _rng(seed, "documents")
        vocab = np.array(VOCAB, dtype=object)
        texts: list[str] = []
        for i in range(n_docs):
            u = r.random()
            if i > 10 and u < 0.05:  # near-duplicate of an earlier document
                texts.append(texts[int(r.integers(0, i))] + " dup")
            elif i > 10 and u < 0.052:  # exact copy
                texts.append(texts[int(r.integers(0, i))])
            else:
                texts.append(" ".join(r.choice(vocab, int(r.integers(8, 91)))))
        langs = r.choice(np.array(LANGS, dtype=object), n_docs, p=LANG_WEIGHTS)
        _write_parts(
            pa.table(
                {
                    "doc_id": np.arange(n_docs, dtype=np.int64),
                    "text": texts,
                    "lang": pa.array(langs, pa.string()),
                    "source": [f"src{i % 20}" for i in range(n_docs)],
                    "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
                }
            ),
            os.path.join(d, "documents.parquet"),
            CURATION_PARTS,
        )
        r = _rng(seed, "embeddings")
        v = r.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        _write_parts(
            pa.table(
                {
                    "vec_id": np.arange(n_vecs, dtype=np.int64),
                    "embedding": pa.array(list(v), pa.list_(pa.float32())),
                    "label": r.integers(0, 10, n_vecs, dtype=np.int32),
                }
            ),
            os.path.join(d, "embeddings.parquet"),
            CURATION_PARTS,
        )

    return _cached(root, f"curation-{seed}-{n_docs}-{n_vecs}", build)


def read_events(path: str) -> pa.Table:
    """Every event under ``path`` (a generated directory), for the checks."""
    return pq.read_table(path, schema=EVENT_SCHEMA)
