"""Seeded input generators for the benchmark workloads.

Everything the program under test receives is built here from the
workload seed, so the same seed gives byte-identical tables:

* :func:`write_documents` / :func:`write_events` — a ``documents`` and
  an ``events`` parquet shaped like the sf test tables of TESTDATA.md
  (same columns and types, same vocabulary, language mix, 20 ``srcN``
  sources, 5% near-duplicate documents ending in ``dup``), written into
  a scale-factor directory that ``__spark_entry__.queries()`` and
  ``sources.synthetic_web.pages_from_documents`` read.
* :func:`doc_url` — the URL ``pages_from_documents`` gives a document,
  used to name the crawl's seed documents.
"""

from __future__ import annotations

import datetime
import os
import random

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """``documents.parquet``: doc_id, text, lang, source, n_chars."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"documents/{seed}")
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (one appended word)
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            n_words = rng.randint(10, 100)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(n_words)))
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs)
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(path, "documents.parquet"))


def write_events(path: str, n_events: int, seed: int) -> None:
    """``events.parquet``: event_id, ts, user_id, event_type, value, props."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"events/{seed}")
    t = datetime.datetime(2024, 1, 1)
    ts, users, types, values, props = [], [], [], [], []
    for _ in range(n_events):
        t += datetime.timedelta(microseconds=int(rng.expovariate(1 / 26e6)))
        ts.append(t)
        users.append(rng.randrange(1500))
        types.append(rng.choice(EVENT_TYPES))
        values.append(round(rng.expovariate(1 / 50), 2))
        props.append(f'{{"k": {rng.randrange(100)}}}')
    table = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    pq.write_table(table, os.path.join(path, "events.parquet"))


def doc_url(doc_id: int) -> str:
    return f"https://src{doc_id % N_SOURCES}.example/doc/{doc_id}"
