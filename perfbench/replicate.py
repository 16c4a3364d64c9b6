"""The ``replicate`` op: AssemblageDB's edit -> broadcast -> subscriber loop.

A driver-side source ``AssemblageDb`` holds one page for each of the
first ``PAGES`` generated documents (its text split into lines of
``LINE_WORDS`` words). Each call applies ``BATCHES`` seeded edit batches;
every batch is exported with ``export_since`` from the last exported
timestamp, written as one episode with ``write_episode``, and pulled into
a replica db by a ``subscribe_stream`` query with ``availableNow`` under
an XOR namespace.
The lag of a batch runs from the commit of its last edit until the
subscriber query has finished importing it.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from assemblagedb_spark.db import AssemblageDb
from assemblagedb_spark.model import PAGE, Child, Node
from assemblagedb_spark.sources import episodes
from assemblagedb_spark.streaming import broadcast

PAGES = 20
LINE_WORDS = 12
BATCHES = 1
EDITS_PER_BATCH = 3
NAMESPACE = "5eed0000-0000-4000-8000-00000000b0b0"
BROADCAST = "corpus"


class Replicator:
    def __init__(self, spark, sf_dir: str, work_dir: str, seed: int):
        self.spark = spark
        self.base_dir = f"{work_dir}/broadcasts"
        self.ckpt = f"{work_dir}/subscriber_ckpt"
        self.rng = np.random.default_rng([seed, 1])
        texts = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
        texts = texts.column("text").to_pylist()
        self.vocab = sorted({w for s in texts for w in s.split()})
        self.source = AssemblageDb(spark)
        self.replica = AssemblageDb(spark)
        self.pages = []
        for text in texts[:PAGES]:
            words = text.split()
            lines = [
                Node.text_node(" ".join(words[i : i + LINE_WORDS]))
                for i in range(0, len(words), LINE_WORDS)
            ]
            self.pages.append(self.source.add(Node.list(PAGE, lines)))
        self.root = self.source.add(
            Node.list(PAGE, [Child.lazy(p) for p in self.pages])
        )
        self.exported_ts = 0
        self.lags: list[float] = []
        self.exported: list[int] = []
        self._publish()

    def _publish(self) -> float:
        """Export everything newer than the last export, pull it into the
        replica, and return the seconds this took."""
        t0 = time.time()
        ts = self.source.store.last_updated()
        payload, _ = episodes.export_since(self.source, self.root, self.exported_ts)
        self.exported.append(len(payload["nodes"]))
        episodes.write_episode(
            self.spark, payload, f"{self.base_dir}/{BROADCAST}/episode={ts}"
        )
        q = broadcast.subscribe_stream(
            self.spark, self.base_dir, BROADCAST, self.replica,
            namespace=NAMESPACE, checkpoint_dir=self.ckpt,
        )
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError("replica subscriber did not drain within 120s")
        if q.exception() is not None:
            raise RuntimeError(f"replica subscriber failed: {q.exception()}")
        self.exported_ts = ts
        return time.time() - t0

    def run(self) -> None:
        """One call of the op: BATCHES edit batches, each replicated."""
        for _ in range(BATCHES):
            for _ in range(EDITS_PER_BATCH):
                page = self.pages[int(self.rng.integers(len(self.pages)))]
                words = self.rng.choice(self.vocab, LINE_WORDS)
                self.source.push(page, Node.text_node(" ".join(words)))
            self.lags.append(self._publish())

    def lag_s(self) -> float:
        return statistics.median(self.lags)

    def mismatch(self) -> str | None:
        """None when every replica page's text equals its source page's."""
        src, rep = self.source.blocks(), self.replica.blocks()
        for page in self.pages:
            src_ids = [c.id for c in self.source.get(page).children]
            node = self.replica.get(episodes.namespaced_id(page, NAMESPACE))
            if node is None:
                return f"page {page} missing from the replica"
            src_text = [src.get(c) for c in src_ids]
            rep_text = [rep.get(c.id) for c in node.children]
            if src_text != rep_text:
                return f"page {page} differs in the replica"
        return None


def version_rows(db: AssemblageDb) -> int:
    return sum(len(v) for v in db.store._data.values())
