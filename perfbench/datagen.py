"""Seeded synthetic inputs. The same seed gives byte-identical inputs.

Every shape constant below is measured on the engine's sf0.1 test tables
(``documents``, ``embeddings``, ``events``; the figures are in README.md),
so a generated input looks like a fresh sample of those tables. Nothing
here imports the engine: the program under test only ever sees the files
written here.
"""

from __future__ import annotations

import os

import numpy as np

# curation_net's input is a quarter of sf0.1 (5000 documents, 2000
# embeddings): at full size a run takes ~90 s on 4 cores, and the
# benchmark's 48 runs would not fit in their time budget
SCALE = 0.25

# documents: every text is 10..99 words drawn uniformly from this 30-word
# vocabulary, and 5 % of the rows are near-duplicates (another row's text
# plus " dup"), which also makes a few exact duplicates
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
N_DOCS = int(5000 * SCALE)
WORDS = (10, 100)  # half-open
NEAR_DUP_FRAC = 0.05
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
N_SOURCES = 20  # round robin on the row number

# embeddings: unit vectors in 64 dimensions, labels 0..9 uniform
N_EMBEDDINGS = int(2000 * SCALE)
EMB_DIM = 64
N_LABELS = 10

# events: uniform event types, users 0..1499, exponential values with mean
# 50 at cent precision, props {"k": 0..99}, microsecond timestamps in
# event order, 100,000 events over 30 days
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
N_USERS = 1500
VALUE_MEAN = 50.0
# sf0.1 holds events as one table, not as files: an event file here holds
# one hour of events at sf0.1's rate, so its row count is Poisson
EVENTS_PER_HOUR = 100_000 / (30 * 24)


def documents(seed: int, n: int = N_DOCS):
    """Rows (doc_id, text, lang, source, n_chars), in a seeded order."""
    rng = np.random.default_rng([seed, 1])
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(*WORDS)))) for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_FRAC):
        texts[i] = texts[int(rng.integers(n))] + " dup"
    langs = rng.choice(LANGS, n, p=LANG_P)
    order = rng.permutation(n)
    return [
        (int(i), texts[i], str(langs[i]), f"src{i % N_SOURCES}", len(texts[i]))
        for i in order
    ]


def embeddings(seed: int, n: int = N_EMBEDDINGS):
    rng = np.random.default_rng([seed, 2])
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    return [(i, vecs[i].tolist(), int(labels[i])) for i in range(n)]


def write_curation_inputs(seed: int, out_dir: str) -> None:
    """documents.parquet + embeddings.parquet in ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = documents(seed)
    doc_t = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs], pa.string()),
            "lang": pa.array([d[2] for d in docs], pa.string()),
            "source": pa.array([d[3] for d in docs], pa.string()),
            "n_chars": pa.array([d[4] for d in docs], pa.int64()),
        }
    )
    emb = embeddings(seed)
    emb_t = pa.table(
        {
            "vec_id": pa.array([e[0] for e in emb], pa.int64()),
            "embedding": pa.array([e[1] for e in emb], pa.list_(pa.float32())),
            "label": pa.array([e[2] for e in emb], pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("documents", doc_t), ("embeddings", emb_t)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def event_files(seed: int, counts: dict[str, int]):
    """JSON-lines event files for the streaming loader, per phase.

    ``counts`` maps a phase name to its number of files; returns
    ``{phase: [(file_name, payload_bytes, n_rows, sum_event_id)]}``.
    File k holds the events of hour k. Names sort in generation order and
    match ``%Y%m%d_%H%M_%Q.json``.
    """
    rng = np.random.default_rng([seed, 3])
    hour0 = np.datetime64("2024-01-01T00:00:00", "us")
    out: dict[str, list] = {}
    seq = 0
    event_id = 0
    for phase, n_files in counts.items():
        files = []
        for _ in range(n_files):
            n = max(1, int(rng.poisson(EVENTS_PER_HOUR)))
            ids = range(event_id, event_id + n)
            offsets = np.sort(rng.integers(0, 3_600_000_000, n)).astype("timedelta64[us]")
            ts = np.datetime_as_string(hour0 + np.timedelta64(seq, "h") + offsets, unit="us")
            users = rng.integers(0, N_USERS, n)
            types = rng.choice(EVENT_TYPES, n)
            values = np.round(rng.exponential(VALUE_MEAN, n), 2)
            ks = rng.integers(0, 100, n)
            # the bytes json.dumps would write, formatted directly
            payload = "".join(
                f'{{"event_id": {i}, "ts": "{str(t).replace("T", " ")}", '
                f'"user_id": {u}, "event_type": "{e}", "value": {float(v)!r}, '
                f'"props": "{{\\"k\\": {k}}}"}}\n'
                for i, t, u, e, v, k in zip(ids, ts, users, types, values, ks)
            ).encode()
            files.append((f"20240101_0000_{seq:06d}.json", payload, n, sum(ids)))
            seq += 1
            event_id += n
        out[phase] = files
    return out
