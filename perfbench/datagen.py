"""Seeded inputs for the benchmark: a text corpus and CDC waves.

The corpus has the shape of the engine's test ``documents`` table: the
same columns and types, the same 30-word vocabulary, 10-100 tokens per
document, 5% near duplicates (a copy of another document plus the
token ``dup``) and 0.2% exact copies, drawn from
``numpy.random.default_rng``.  The same seed and count give byte-identical
parquet files.

The CDC generator produces JSON change events over a fixed key space and
keeps the last-writer-wins reference the upserted tables must equal.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


# Shares of the corpus that copy another document: near duplicates (the copy
# plus the token "dup") and exact copies.  The counts are fixed, not drawn,
# so that every seed has the same duplicate structure and a seed changes only
# which documents are copied and what they say: the dedup operators' cost
# follows the number of duplicates closely.
NEAR_DUP_SHARE = 0.05
EXACT_SHARE = 0.002


def _corpus(rng: np.random.Generator, n: int) -> list[str]:
    """Random 10-100 token texts; ``NEAR_DUP_SHARE`` of them are near
    duplicates and ``EXACT_SHARE`` exact copies of other documents."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + ln]))
        at += ln
    near, exact = round(NEAR_DUP_SHARE * n), round(EXACT_SHARE * n)
    copies = rng.choice(n, 2 * (near + exact), replace=False)
    # the first half copy from the second half, so no source is itself a copy
    for k, (i, j) in enumerate(zip(copies[: near + exact], copies[near + exact :])):
        texts[i] = texts[j] if k < exact else texts[j] + " dup"
    return texts


def write_documents(out_dir: str, seed: int, n: int) -> None:
    """Write ``documents.parquet`` (the test tables' columns) with ``n``
    documents into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng([seed, 7])
    texts = _corpus(r, n)
    pq.write_table(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))


# -- CDC change stream --------------------------------------------------------

CDC_TOPIC = "users"
POISON = "{not json"


@dataclass
class CdcStream:
    """Seeded change events over a fixed key space.

    Each wave mixes inserts (first event of a key) and updates (later
    events), plus ``poison_share`` messages that are not JSON.  ``expected``
    is the last-writer-wins reference: each key's last payload in send
    order, which is also its offset order because a key always maps to one
    partition.
    """

    seed: int
    keys: int = 1_000
    poison_share: float = 0.01
    waves_sent: int = 0
    poison_sent: int = 0
    expected: dict[str, dict] = field(default_factory=dict)

    def wave(self, n_events: int) -> list[tuple[str, str | None]]:
        """The next wave's ``(value, key)`` records for :data:`CDC_TOPIC`."""
        r = np.random.default_rng([self.seed, 100, self.waves_sent])
        keys = r.integers(0, self.keys, n_events)
        poison = r.random(n_events) < self.poison_share
        nums = r.integers(0, 1_000_000, n_events)
        out = []
        for i in range(n_events):
            if poison[i]:
                out.append((POISON, None))
                self.poison_sent += 1
                continue
            key = f"u{keys[i]:05d}"
            doc = {"_id": key, "name": f"user-{nums[i]}", "score": int(nums[i] % 1000),
                   "active": bool(nums[i] % 2), "seq": self.waves_sent * 1_000_000 + i}
            out.append((json.dumps(doc), key))
            self.expected[key] = doc
        self.waves_sent += 1
        return out
