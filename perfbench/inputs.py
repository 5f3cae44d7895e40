"""Seeded benchmark inputs. The same seed gives byte-identical inputs."""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "key agg row scan slow fast table value part hash filter stream window "
    "query sort join merge batch spark line order group column data small "
    "big customer the a filters streams sorting hashes joining windows"
).split()
_EVENT_TYPES = ("view", "click", "add_to_cart", "purchase", "error")


def pages_corpus(out_dir: str, n_pages: int, seed: int, **shape) -> dict:
    """Synthetic web pages plus golden fixtures, from the program's own
    generator; ``shape`` is passed through (filler_sentences, hub_boost)."""
    from codegraphcontext_spark.datagen.pages import generate_corpus

    return generate_corpus(out_dir, n_pages, seed=seed, **shape)


def driver_tables(sf_dir: str, seed: int, n_docs: int, n_events: int) -> None:
    """The ``documents`` and ``events`` tables the driver queries read, with
    the column layout of the tier tables in TESTDATA.md. Every tenth document
    repeats its predecessor with one more word (near-duplicates, as in web
    text)."""
    rng = random.Random(seed)
    os.makedirs(sf_dir, exist_ok=True)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 10 == 9:
            texts.append(texts[-1] + " " + rng.choice(_WORDS))
        else:
            texts.append(
                " ".join(rng.choice(_WORDS) for _ in range(rng.randint(20, 80)))
            )
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{i % 5}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(sf_dir, "documents.parquet"),
    )
    t0 = dt.datetime(2024, 1, 1)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(seconds=30 * i + rng.randint(0, 29))
                 for i in range(n_events)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(
                [rng.randint(0, 199) for _ in range(n_events)], pa.int64()
            ),
            "event_type": pa.array(
                [rng.choice(_EVENT_TYPES) for _ in range(n_events)], pa.string()
            ),
            "value": pa.array(
                [round(rng.random() * 20, 2) for _ in range(n_events)], pa.float64()
            ),
            "props": pa.array(
                [f'{{"k": {rng.randint(0, 99)}}}' for _ in range(n_events)],
                pa.string(),
            ),
        }),
        os.path.join(sf_dir, "events.parquet"),
    )
