"""Seeded corpus and mutation schedule, plus a pure-Python model of the
quickstart transform used as an independent correctness oracle.

Everything here derives from the seed alone: the same seed gives
byte-identical files and the same mutation batches, so two runs (or two
commits) see exactly the same inputs.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from dataclasses import dataclass, field

FILE_FMT = "doc_{:06d}.txt"
DOC_ID_RE = r"doc_(\d+)\.txt"

# Mirrors of cocoindex_spark.queries.quickstart / operators.vector_ops
# constants; run.py asserts they still agree with the program.
CHUNK = 32
STRIDE = 24
EMB_DIM = 16
LSH_BITS = 4
FIXED_SCALE = float(2**40)
_MIX_A = 2654435761
_MIX_B = 40503

_VOCAB_SIZE = 3000


def _vocab(rng: random.Random) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < _VOCAB_SIZE:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(2, 9))))
    return sorted(words)


@dataclass
class Batch:
    """One mutation batch: appended edits, one added file, one deleted
    file. Edits only append words, so no chunk of an edited file
    disappears: every target delete comes from the deleted file."""

    edits: list[tuple[int, str]] = field(default_factory=list)  # (doc_id, appended text)
    adds: list[tuple[int, str]] = field(default_factory=list)  # (doc_id, full text)
    deletes: list[int] = field(default_factory=list)


class Corpus:
    """The seed's documents (doc_id -> text) and an endless mutation
    schedule over them. ``text`` always mirrors what is on disk once
    ``write`` / ``apply`` have run."""

    def __init__(self, seed: int, n_files: int, words: tuple[int, int] = (60, 400)):
        self.rng = random.Random(seed)
        self.vocab = _vocab(self.rng)
        self.words = words
        self.text: dict[int, str] = {}
        for doc_id in range(n_files):
            self.text[doc_id] = self._words(self.rng.randint(*words))
        self.next_id = n_files

    def _words(self, n: int, rng: random.Random | None = None) -> str:
        # Uniform draws: a skewed vocabulary makes every chunk's
        # embedding alike and piles the corpus into one or two LSH
        # buckets, so probes would find either everything or nothing.
        return " ".join((rng or self.rng).choice(self.vocab) for _ in range(n))

    def query(self, rng: random.Random) -> tuple[list[float], int]:
        """A probe: the embedding of a short random text, and its bucket."""
        while True:
            q = embed(self._words(rng.randint(8, 24), rng))
            if any(q):
                return q, sign_bucket(q)

    def write(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)
        for doc_id in sorted(self.text):
            with open(os.path.join(root, FILE_FMT.format(doc_id)), "w", encoding="utf-8") as f:
                f.write(self.text[doc_id])

    def next_batch(self, n_edits: int = 3, n_adds: int = 1, n_deletes: int = 1) -> Batch:
        live = sorted(self.text)
        picked = self.rng.sample(live, n_edits + n_deletes)
        b = Batch()
        for doc_id in picked[:n_edits]:
            b.edits.append((doc_id, " " + self._words(self.rng.randint(8, 40))))
        b.deletes = picked[n_edits:]
        for _ in range(n_adds):
            b.adds.append((self.next_id, self._words(self.rng.randint(*self.words))))
            self.next_id += 1
        return b

    def apply(self, root: str, b: Batch) -> None:
        """Write the batch to disk and to the in-memory mirror."""
        for doc_id, extra in b.edits:
            with open(os.path.join(root, FILE_FMT.format(doc_id)), "a", encoding="utf-8") as f:
                f.write(extra)
            self.text[doc_id] += extra
        for doc_id, text in b.adds:
            with open(os.path.join(root, FILE_FMT.format(doc_id)), "w", encoding="utf-8") as f:
                f.write(text)
            self.text[doc_id] = text
        for doc_id in b.deletes:
            os.remove(os.path.join(root, FILE_FMT.format(doc_id)))
            del self.text[doc_id]

    def nbytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.text.values())


# ---- pure-Python model of queries.quickstart.chunk_and_embed ----------


def chunk_texts(text: str) -> list[str]:
    w = text.strip(" ").split(" ")
    extra = max(len(w) - CHUNK, 0)
    n = extra // STRIDE + (1 if extra % STRIDE else 0) + 1
    out = [" ".join(w[i * STRIDE : i * STRIDE + CHUNK]) for i in range(n)]
    return [c for c in out if c]


def embed(chunk: str) -> list[float]:
    emb = [0.0] * EMB_DIM
    for t in chunk.split(" "):
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:9], 16)
        emb[(h // 16) % EMB_DIM] += 1.0 if h % 2 == 0 else -1.0
    return emb


def _fixed(x: float) -> int:
    return int(x * FIXED_SCALE // 1)


def sign_bucket(emb: list[float]) -> int:
    bucket = 0
    for j in range(LSH_BITS):
        proj = 0
        for i, x in enumerate(emb):
            q = _fixed(x)
            mix = i * _MIX_A + j * _MIX_B
            proj += q if (mix >> 16) & 1 == 0 else -q
        if proj >= 0:
            bucket |= 1 << j
    return bucket


def model_rows(text: dict[int, str]) -> dict[tuple[int, int], tuple[str, tuple, int]]:
    """(doc_id, chunk_idx) -> (chunk_text, embedding, bucket) for every
    target row the pipeline must hold for this corpus."""
    out = {}
    for doc_id, t in text.items():
        for i, c in enumerate(chunk_texts(t)):
            e = embed(c)
            out[(doc_id, i)] = (c, tuple(e), sign_bucket(e))
    return out


def dot_fixed(a, b) -> int:
    return sum(int(float(x) * float(y) * FIXED_SCALE // 1) for x, y in zip(a, b))


def topk(rows, q: list[float], bucket: int, k: int) -> list[tuple[int, int, float]]:
    """Brute-force cosine top-k over one LSH bucket, with the program's
    fixed-point arithmetic and its (sim desc, doc_id, chunk_idx) order."""
    qn = dot_fixed(q, q)
    scored = []
    for (doc_id, idx), (_c, e, b) in rows.items():
        if b != bucket:
            continue
        sqn = dot_fixed(e, e)
        if sqn <= 0:
            continue
        sim = float(dot_fixed(e, q)) / math.sqrt(float(sqn) * float(qn))
        scored.append((-sim, doc_id, idx))
    scored.sort()
    return [(d, i, -s) for s, d, i in scored[:k]]
