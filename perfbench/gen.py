"""Seeded input generators for the benchmark workloads.

Everything the program reads is produced here from ``--seed``: the same
seed gives byte-identical files, and ``land_days`` / ``tree_hash`` return
their sha256 so each result records exactly which inputs it measured.

* Pipeline workloads land newline-delimited JSON under
  ``<landing>/<bucket>/<experiment>/<datatype>/YYYY/MM/DD/part-NNN.jsonl``,
  the layout the parsers write and ``Job.prefix()`` addresses. Each ``ndt7``
  id appears ``copies`` times with distinct ``parser.Time`` values, so dedup
  keeps one row per id; a seeded share of ids gets one ``annotation2`` row.
* The query workload writes ``events``, ``documents`` and ``embeddings``
  parquet tables with the columns and value shapes the registry queries
  expect, in the shape of the sf0.1 test data: documents of 10–100 words
  from a 30-word vocabulary, about 5% of them an earlier one with ``dup``
  appended; unit-norm 64-d vectors with 10 labels; a month of events over a
  fixed user population, five event types, log-normal values.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from datetime import date as Date
from datetime import datetime, timedelta, timezone

import numpy as np

BUCKET = "bench"
EXPERIMENT = "ndt"
HELD_OUT_SEED = 1729  # never used while tuning; for held-out checks
PARSE_EPOCH = Date(2024, 6, 1)  # parse times are index-based from here


@dataclass(frozen=True)
class DaySpec:
    """Expected content of one landed day (what the output checks use)."""

    day: Date
    ndt7_rows: int
    ndt7_ids: int
    annotated_ids: int


def _day_prefix(landing: str, datatype: str, day: Date) -> str:
    return os.path.join(
        landing, BUCKET, EXPERIMENT, datatype, day.strftime("%Y/%m/%d")
    )


def land_day(
    landing: str,
    day: Date,
    index: int,
    ids: int,
    copies: int,
    files: int,
    annotated_share: float,
    rng: np.random.Generator,
    digest,
) -> DaySpec:
    """Write one day of ``ndt7`` rows (``ids * copies`` of them over
    ``files`` files) and ``annotation2`` rows for a seeded subset of ids.

    File contents depend on the seed and the day's ``index`` only, never on
    the calendar date (ids and parse times are index-based), so a landing
    set placed relative to today still hashes the same for the same seed."""
    id_names = [f"d{index:04d}-{i:07d}" for i in range(ids)]
    base = rng.uniform(0, 80_000, size=ids)
    # copy c of id i is parsed at base[i] + c seconds into the parse day
    t0 = np.datetime64(PARSE_EPOCH + timedelta(days=index), "us")
    us = (base * 1e6).astype(np.int64)
    stamps = [
        np.datetime_as_string(t0 + (us + c * 1_000_000).astype("timedelta64[us]"))
        for c in range(copies)
    ]
    values = np.round(rng.gamma(2.0, 20.0, size=(ids, copies)), 3)
    order = rng.permutation(ids * copies)
    annotated = np.flatnonzero(rng.random(ids) < annotated_share)
    asn = rng.integers(1, 65_000, size=len(annotated))
    country = rng.integers(0, 8, size=len(annotated))

    def write(datatype: str, name: str, lines: list[str]) -> None:
        d = _day_prefix(landing, datatype, day)
        os.makedirs(d, exist_ok=True)
        data = "".join(lines).encode()
        digest.update(f"{datatype}/{index}/{name}\0".encode())
        digest.update(data)
        with open(os.path.join(d, name), "wb") as out:
            out.write(data)

    for f, chunk in enumerate(np.array_split(order, files)):
        lines = []
        for k in chunk:
            i, c = divmod(int(k), copies)
            lines.append(
                f'{{"id":"{id_names[i]}","parser":{{"Time":"{stamps[c][i]}Z"}},'
                f'"a":{{"MeanThroughputMbps":{float(values[i, c])!r}}},"copy":{c}}}\n'
            )
        write("ndt7", f"part-{f:03d}.jsonl", lines)
    write(
        "annotation2",
        "part-000.jsonl",
        [
            f'{{"id":"{id_names[i]}","parser":{{"Time":"{stamps[0][i]}Z"}},'
            f'"client":{{"ASN":{int(a)},"Country":"{"ABCDEFGH"[int(c)]}"}}}}\n'
            for i, a, c in zip(annotated, asn, country)
        ],
    )
    return DaySpec(day, ids * copies, ids, len(annotated))


def land_days(
    landing: str,
    days: list[Date],
    ids: int,
    copies: int,
    files: int,
    annotated_share: float,
    seed: int,
) -> tuple[list[DaySpec], str]:
    """Land every day; returns the day specs and the sha256 of the files."""
    rng = np.random.default_rng(seed)
    digest = hashlib.sha256()
    specs = [
        land_day(landing, d, i, ids, copies, files, annotated_share, rng, digest)
        for i, d in enumerate(days)
    ]
    return specs, digest.hexdigest()


_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def make_tables(
    out_dir: str, seed: int, events: int, users: int, docs: int, vectors: int
) -> None:
    """Write the ``events``, ``documents`` and ``embeddings`` tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    t0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span, size=events)) + t0
    types = np.array(["click", "error", "purchase", "signup", "view"])
    ev = pa.table(
        {
            "event_id": pa.array(np.arange(events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, size=events)),
            "event_type": pa.array(types[rng.integers(0, 5, size=events)]),
            "value": pa.array(
                np.maximum(np.round(rng.lognormal(3.5, 1.0, size=events), 2), 0.01)
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=events)]
            ),
        }
    )
    pq.write_table(ev, os.path.join(out_dir, "events.parquet"))

    texts: list[str] = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one appended token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, 30, size=n)))
    langs = np.array(["de", "en", "en", "en", "es", "fr", "zh"])
    doc = pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, len(langs), size=docs)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(doc, os.path.join(out_dir, "documents.parquet"))

    m = rng.standard_normal((vectors, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
            "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=vectors).astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def tree_hash(root: str) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    paths = []
    for dirpath, _dirs, names in os.walk(root):
        paths.extend(os.path.join(dirpath, n) for n in names)
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        h.update(b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def input_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _s, names in os.walk(root)
        for n in names
    )
