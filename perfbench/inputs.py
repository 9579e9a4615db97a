"""Seeded input generators. The same seed always yields the same files.

Detection events: timestamps rise strictly across the whole stream (one
fixed gap per event), so arrival order is event order and every file
covers its own timestamp range. Ingest documents: a
``testing.make_skewed_corpus`` corpus; a base slice is indexed, the rest
is streamed in epochs that also carry exact re-sends of earlier
documents, so the loop has real matches to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first event time: 2024-01-01T00:00:00Z in ms
T0_MS = 1_704_067_200_000

EVENT_SCHEMA_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)
DOC_SCHEMA_DDL = "doc_id long, text string"


class DetectEvents:
    """Event files for the detection workload: ``events_per_file``
    events per file over ``n_keys`` uniform keys, one event every
    ``gap_ms`` of event time. The default gap gives each key about 3
    events a day, so the more-than-4-in-a-day rate rule fires on bursts,
    not on every event."""

    def __init__(self, seed: int, events_per_file: int, n_keys: int,
                 gap_ms: int | None = None) -> None:
        self.seed = seed
        self.events_per_file = events_per_file
        self.n_keys = n_keys
        self.gap_ms = gap_ms or 86_400_000 // (3 * n_keys)

    def table(self, i: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, i])
        n = self.events_per_file
        idx = np.arange(i * n, (i + 1) * n, dtype=np.int64)
        values = np.round(rng.normal(100.0, 15.0, n), 2).clip(0.01, None)
        spikes = rng.random(n) < 0.01
        values[spikes] = np.round(rng.uniform(250.0, 400.0, spikes.sum()), 2)
        kinds = np.array(["click", "purchase", "login", "view"])
        return pa.table({
            "event_id": pa.array(idx),
            "ts": pa.array((T0_MS + idx * self.gap_ms) * 1000,
                           type=pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, self.n_keys, n, dtype=np.int64)),
            "event_type": pa.array(kinds[rng.integers(0, len(kinds), n)]),
            "value": pa.array(values),
        })

    def write(self, i: int, directory: str) -> str:
        path = os.path.join(directory, f"events-{i:06d}.parquet")
        pq.write_table(self.table(i), path)
        return path

    def file_of_ts_ms(self, ts_ms: int) -> int:
        return (ts_ms - T0_MS) // self.gap_ms // self.events_per_file


class _PandasFrames:
    """Stands in for the session ``make_skewed_corpus`` builds its frames
    with, so the corpus stays in pandas and no Spark job is run."""

    @staticmethod
    def createDataFrame(pdf):  # noqa: N802 (the SparkSession method name)
        return pdf


class IngestDocs:
    """Document epochs for the ingest workload.

    Layout of the ``make_skewed_corpus`` ids: ``[0, n_base)`` is the
    indexed base (hot near-dup cluster and the first planted pairs);
    each epoch takes the next ``fresh_per_epoch`` corpus documents and
    adds exact re-sends under new ids: ``from_index`` copies of base
    documents, ``from_stream`` copies of documents streamed in earlier
    epochs and ``within_batch`` copies of documents of the same epoch.
    Epochs are generated in order, since later ones copy earlier ones.
    """

    COPY_ID_BASE = 100_000_000

    def __init__(
        self, seed: int, *, n_base: int, fresh_per_epoch: int,
        max_epochs: int, from_index: int, from_stream: int, within_batch: int,
    ) -> None:
        from stream_sentinel_spark.testing import make_skewed_corpus

        self.seed = seed
        self.n_base = n_base
        self.fresh_per_epoch = fresh_per_epoch
        self.max_epochs = max_epochs
        self.copies = (from_index, from_stream, within_batch)
        n_docs = n_base + fresh_per_epoch * max_epochs
        corpus = make_skewed_corpus(
            _PandasFrames(), n_docs=n_docs, hot_cluster=n_base // 10,
            planted_pairs=n_docs // 4, seed=seed,
        )
        pdf = corpus.docs
        self.ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        self.texts = pdf["text"].tolist()
        self.epochs: list[tuple[np.ndarray, list[str]]] = []
        self._next_copy = self.COPY_ID_BASE

    @property
    def base(self) -> tuple[np.ndarray, list[str]]:
        return self.ids[: self.n_base], self.texts[: self.n_base]

    def base_frame(self, spark):
        """The indexed slice as a DataFrame of ``spark`` (any session)."""
        import pandas as pd

        ids, texts = self.base
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": ids, "text": texts}), DOC_SCHEMA_DDL
        )

    def epoch(self, e: int) -> tuple[np.ndarray, list[str]]:
        while len(self.epochs) <= e:
            self.epochs.append(self._make(len(self.epochs)))
        return self.epochs[e]

    def _make(self, e: int) -> tuple[np.ndarray, list[str]]:
        if e >= self.max_epochs:
            raise IndexError(f"corpus sized for {self.max_epochs} epochs")
        rng = np.random.default_rng([self.seed, e])
        lo = self.n_base + e * self.fresh_per_epoch
        fresh = list(range(lo, lo + self.fresh_per_epoch))
        from_index, from_stream, within_batch = self.copies
        src = list(rng.choice(self.n_base, from_index, replace=False))
        if e > 0:
            src += list(rng.choice(
                np.arange(self.n_base, lo), from_stream, replace=False
            ))
        src += list(rng.choice(fresh, within_batch, replace=False))
        ids = [self.ids[i] for i in fresh]
        texts = [self.texts[i] for i in fresh]
        for i in src:
            ids.append(self._next_copy)
            texts.append(self.texts[i])
            self._next_copy += 1
        order = rng.permutation(len(ids))
        return (np.asarray(ids, dtype=np.int64)[order],
                [texts[k] for k in order])

    def write(self, e: int, directory: str) -> str:
        ids, texts = self.epoch(e)
        path = os.path.join(directory, f"docs-{e:06d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids),
                                 "text": pa.array(texts)}), path)
        return path
