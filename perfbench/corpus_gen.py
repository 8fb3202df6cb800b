"""Seeded JSONL document shards, with the generator's own expected records.

Documents are written in the style of the engine's reference documents
table: lower-case words drawn uniformly from a 30-word vocabulary,
10 to 100 words each, ten sources, a handful of languages. Every shard
also carries planted cases whose outcome the generator knows:

- low-quality documents (too short, or mostly punctuation) that the
  quality gate must drop;
- PII (e-mail addresses, phone numbers, IPv4 addresses) inside
  otherwise normal documents, which must not survive into published
  text;
- exact copies, under new ``doc_id``s, of normal documents from earlier
  shards, which the incremental dedup must count as duplicates.

``doc_id``s are unique across all shards of a run.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
N_SOURCES = 10
LOW_QUALITY_RATE = 0.04
PII_RATE = 0.12
COPIES_PER_SHARD = 10
IDS_PER_SHARD = 1000


@dataclass
class CorpusExpected:
    received: dict[int, int] = field(default_factory=dict)  # shard -> docs
    low_quality: dict[int, int] = field(default_factory=dict)
    copies: set[int] = field(default_factory=set)  # doc_ids of planted copies
    pii_docs: set[int] = field(default_factory=set)


class CorpusGenerator:
    """Writes shard files; shard ``k`` depends only on (seed, k)."""

    def __init__(self, seed: int, docs_per_shard: int):
        self.seed = seed
        self.docs_per_shard = docs_per_shard
        self.expected = CorpusExpected()
        self.originals: list[str] = []  # normal texts of earlier shards
        self.shards_made = 0

    def _normal_text(self, rng: np.random.Generator) -> str:
        n = int(rng.integers(10, 101))
        return " ".join(VOCAB[i] for i in rng.integers(len(VOCAB), size=n))

    @staticmethod
    def _pii(rng: np.random.Generator) -> str:
        kind = int(rng.integers(3))
        if kind == 0:
            user = VOCAB[int(rng.integers(len(VOCAB)))]
            return f"{user}.{int(rng.integers(100, 999))}@mail{int(rng.integers(10))}.example.org"
        if kind == 1:
            return (f"+{int(rng.integers(1, 99))}-{int(rng.integers(100, 999))}"
                    f"-{int(rng.integers(1000, 9999))}")
        return ".".join(str(int(x)) for x in rng.integers(1, 255, size=4))

    def make_shard(self, path: Path) -> int:
        """Write the next shard to ``path``; returns its document count."""
        k = self.shards_made
        rng = np.random.default_rng([self.seed, 2, k])
        base = (k + 1) * IDS_PER_SHARD
        rows = []
        low = 0
        normals = []
        for i in range(self.docs_per_shard):
            u = rng.random()
            doc_id = base + i
            if u < LOW_QUALITY_RATE / 2:
                text = VOCAB[int(rng.integers(len(VOCAB)))]  # shorter than 20 chars
                low += 1
            elif u < LOW_QUALITY_RATE:
                text = "!!! ### ??? " + " ".join("%%" for _ in range(10))
                low += 1
            else:
                words = self._normal_text(rng).split()
                if u > 1 - PII_RATE:
                    words.insert(int(rng.integers(len(words) + 1)), self._pii(rng))
                    self.expected.pii_docs.add(doc_id)
                text = " ".join(words)
                normals.append(text)
            rows.append((doc_id, text))
        if self.originals:
            picks = rng.choice(len(self.originals), COPIES_PER_SHARD, replace=False)
            for j, p in enumerate(picks):
                doc_id = base + self.docs_per_shard + j
                rows.append((doc_id, self.originals[int(p)]))
                self.expected.copies.add(doc_id)
        order = rng.permutation(len(rows))
        with open(path, "w", encoding="utf-8") as fh:
            for r in order:
                doc_id, text = rows[int(r)]
                fh.write(json.dumps({
                    "doc_id": doc_id,
                    "text": text,
                    "lang": LANGS[doc_id % len(LANGS)],
                    "source": f"src{doc_id % N_SOURCES}",
                }) + "\n")
        self.originals.extend(normals)
        self.expected.received[k] = len(rows)
        self.expected.low_quality[k] = low
        self.shards_made += 1
        return len(rows)
