"""Seeded benchmark inputs. The same seed gives the same rows.

Stream input comes from the engine's own transcript generator
(``sources.transcripts.transcripts_pdf``: Zipf conversation sizes,
planted trigger phrases and ``search -> code_exec -> send_email`` tool
sequences, 2% of rows shifted 120 s late). The rows are sorted on ``ts``
and cut into equal files, so every file covers its own event-time range,
and the file modification times follow that order, which is the order
the file stream source reads them in. A round-robin layout, where every
file spans the whole day, would let the stateful operators' watermarks
discard most of the stream.

Console input is the ``events``, ``documents`` and ``embeddings`` tables
of the repository's ``sf0.1`` test data, regenerated at a fifth of its
row counts with the distributions measured on it (below). Cardinalities
scale with the rows, so a user has as many events as in ``sf0.1``.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# stream input: the first N_TURNS turns in event-time order, in 64 files;
# the rule pipeline reads 4 files per trigger
# (RuleStreamPipeline.start_from_parquet_dir). The turn count is fixed, so
# a micro-batch holds the same number of turns whatever the seed: the
# Zipf conversation sizes alone move a seed's total by more than a tenth.
# N_CONVS conversations give at least N_TURNS turns on nearly every seed;
# prepare_stream draws more on the others.
N_CONVS = 3300
N_TURNS = 89_600
N_FILES = 64
TRIGGER_FILES = 4

# console input: 1/5 of sf0.1 (100k events, 1,500 users, 5k documents,
# 2k embeddings)
N_EVENTS, N_USERS, N_DOCS, N_VECTORS = 20_000, 300, 1_000, 400

# Shape of sf0.1, measured on its parquet files:
# - events: event_id in ts order; ts uniform over the 30 days from
#   2024-01-01 at microsecond resolution; user_id uniform; the five event
#   types equally likely; value exponential with mean 49.9 (sd 49.6),
#   rounded to cents; props '{"k": n}' with n uniform in 0..99.
EVENT_DAYS = 30
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
VALUE_MEAN = 50.0
# - documents: 10..100 words (uniform, mean 54), drawn uniformly from 30
#   words; source is src<doc_id % 20>; language shares below; n_chars is
#   the text length. 4.9% of documents (243 of 5,000) are another
#   document with the word "dup" appended, chains included, and 0.16%
#   (8) are verbatim copies of another document.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_WORDS = (10, 100)
LANG_SHARES = {"en": 0.412, "zh": 0.150, "es": 0.149, "fr": 0.148, "de": 0.141}
N_SOURCES = 20
NEAR_DUP_SHARE, EXACT_DUP_SHARE = 243 / 5000, 8 / 5000
# - embeddings: 64-dim float32 unit vectors with Gaussian directions
#   (component sd 1/8); label uniform in 0..9.
DIM = 64
N_LABELS = 10


def prepare_stream(work: str, seed: int) -> dict:
    """Write the first ``N_TURNS`` turns of the transcript stream for
    ``seed`` as event-time ordered parquet files; returns the paths in
    stream order and rows per path."""
    from osprey_spark.sources.transcripts import transcripts_pdf

    n_convs = N_CONVS
    while len(pdf := transcripts_pdf(n_convs=n_convs, seed=seed)) < N_TURNS:
        n_convs += n_convs // 4
    pdf = pdf.sort_values("ts", kind="stable").head(N_TURNS)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    table = table.set_column(table.schema.get_field_index("ts"), "ts",
                             table["ts"].cast(pa.timestamp("us")))
    staged = os.path.join(work, "turns")
    os.makedirs(staged)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    base = time.time() - 3600
    paths, rows = [], {}
    for i in range(N_FILES):
        path = os.path.join(staged, f"turns-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (base + i, base + i))
        paths.append(path)
        rows[path] = int(bounds[i + 1] - bounds[i])
    return {"paths": paths, "rows": rows,
            "info": {"input_turns": sum(rows.values()), "files": len(paths),
                     "trigger_files": TRIGGER_FILES}}


def prepare_console(work: str, seed: int) -> dict:
    """Write ``events``, ``documents`` and ``embeddings`` parquet tables
    for ``seed``; returns their directory and row counts."""
    rng = np.random.default_rng(seed)
    out = os.path.join(work, "console")
    os.makedirs(out)

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, EVENT_DAYS * 86400 * 10**6, size=N_EVENTS))
    events = pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, size=N_EVENTS).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=N_EVENTS)],
        "value": np.round(rng.exponential(VALUE_MEAN, size=N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)],
    })

    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), size=n)])
             for n in rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=N_DOCS)]
    n_near = round(NEAR_DUP_SHARE * N_DOCS)
    n_exact = round(EXACT_DUP_SHARE * N_DOCS)
    picked = rng.choice(N_DOCS, size=n_near + n_exact, replace=False)
    for k, i in enumerate(picked):
        j = int(rng.integers(0, N_DOCS - 1))
        j += j >= i  # any other document
        texts[i] = texts[j] + " dup" if k < n_near else texts[j]
    langs = list(LANG_SHARES)
    p = np.array(list(LANG_SHARES.values()))
    documents = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": np.array(langs)[rng.choice(len(langs), size=N_DOCS, p=p / p.sum())],
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    vecs = rng.standard_normal((N_VECTORS, DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(N_VECTORS, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, size=N_VECTORS).astype("int32")),
    })

    pq.write_table(pa.Table.from_pandas(events, preserve_index=False),
                   os.path.join(out, "events.parquet"))
    pq.write_table(pa.Table.from_pandas(documents, preserve_index=False),
                   os.path.join(out, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out, "embeddings.parquet"))
    return {"data": out, "seed": seed,
            "info": {"rows": {"events": N_EVENTS, "documents": N_DOCS,
                              "embeddings": N_VECTORS}}}
