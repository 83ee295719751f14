"""Seeded input generator for the benchmark workloads.

Everything the engine sees is written here as plain ``.txt`` files; the
engine never sees the seed. The same seed gives byte-identical files and
an identical manifest. The manifest lists what the generator planted, so
the benchmark can check the engine's outputs:

- ``exact_dups``: ``[copy, original]`` file pairs whose normalized text is
  identical (byte copies and case/whitespace variants);
- ``near_dups``: ``[copy, original]`` pairs that differ in a few words;
- ``repetitive``: files that fail the Gopher repetition bounds;
- ``pii``: files carrying planted PII, with the planted strings;
- ``chunks``: for every clean document, its paragraphs. Each paragraph is
  260-440 characters and paragraphs are separated by a blank line, so the
  500-character recursive chunker yields exactly one chunk per paragraph:
  a paragraph is a known answer whose chunk must come back at rank 1.
"""

from __future__ import annotations

import os
import random

N_TOPICS = 16
PARAS_PER_DOC = (3, 5)
PARA_CHARS = (260, 440)

_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "z", "br", "ch", "st", "tr", "pl", "gr", "sh"]
_NUCLEI = ["a", "e", "i", "o", "u", "ai", "ea", "ou", "io"]
_CODAS = ["", "n", "r", "s", "t", "l", "m", "x", "nd", "rk"]


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        syl = rng.randint(2, 3)
        words.add("".join(
            rng.choice(_ONSETS) + rng.choice(_NUCLEI) + rng.choice(_CODAS)
            for _ in range(syl)
        ))
    return sorted(words)


class Generator:
    """Deterministic text source for one seed. Call order matters: the
    workloads draw documents in a fixed order, so one seed always gives
    the same files."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        vocab = _vocabulary(random.Random(7), 6000)
        self.common = vocab[:600]
        rest = vocab[600:]
        per = len(rest) // N_TOPICS
        self.topic_words = [rest[t * per:(t + 1) * per] for t in range(N_TOPICS)]
        # Zipf-like weights over the shared words: a few very frequent
        # terms, a long tail — what BM25 idf and the df cap are built for
        self.common_w = [1.0 / (r + 1) for r in range(len(self.common))]

    def _sentence(self, topic: int) -> str:
        rng = self.rng
        n = rng.randint(7, 13)
        words = []
        for _ in range(n):
            if rng.random() < 0.45:
                words.append(rng.choice(self.topic_words[topic]))
            else:
                words.append(rng.choices(self.common, self.common_w)[0])
        return " ".join(words).capitalize() + "."

    def paragraph(self, topic: int) -> str:
        lo, hi = PARA_CHARS
        target = self.rng.randint(lo + 20, hi - 60)
        out = ""
        while len(out) < target:
            s = self._sentence(topic)
            if len(out) + 1 + len(s) > hi:
                break
            out = f"{out} {s}" if out else s
        while len(out) < lo:  # pad with short filler words, never past hi
            out += " " + self.rng.choice(self.topic_words[topic])[:6] + "."
        return out

    def document(self, topic: int) -> list[str]:
        return [self.paragraph(topic) for _ in range(self.rng.randint(*PARAS_PER_DOC))]

    def pii_string(self) -> str:
        rng = self.rng
        kind = rng.randrange(3)
        if kind == 0:
            return f"{rng.choice(self.common)}.{rng.randint(10, 999)}@example.org"
        if kind == 1:
            return f"{rng.randint(200, 989)}-{rng.randint(200, 999)}-{rng.randint(1000, 9999)}"
        return f"{rng.randint(100, 899)}-{rng.randint(10, 99)}-{rng.randint(1000, 9999)}"

    def repetitive(self, topic: int) -> str:
        s = self._sentence(topic)
        return " ".join([s] * self.rng.randint(12, 20))


def write_file(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(text)


def doc_path(i: int) -> str:
    """Relative path of document ``i``: its topic directory, then its
    number (the number doubles as the curation's document id)."""
    return f"t{i % N_TOPICS:02d}/d{i:06d}.txt"


def write_corpus(
    gen: Generator,
    root: str,
    n_docs: int,
    dup_share: float = 0.04,
    near_share: float = 0.04,
    rep_share: float = 0.02,
    pii_share: float = 0.10,
) -> dict:
    """Write ``n_docs`` documents under ``root`` and return the manifest.
    Of them, ``dup_share`` are exact copies (half byte copies, half
    case/whitespace variants), ``near_share`` near copies,
    ``rep_share`` repetitive; ``pii_share`` of the clean documents carry
    one planted PII string inside one paragraph."""
    rng = gen.rng
    manifest: dict = {"files": [], "exact_dups": [], "near_dups": [],
                      "repetitive": [], "pii": {}, "chunks": {}}
    texts: dict[str, str] = {}
    paras_of: dict[str, list[str]] = {}
    for i in range(n_docs):
        topic = i % N_TOPICS
        rel = doc_path(i)
        originals = list(paras_of)
        roll = rng.random()
        if originals and roll < dup_share:
            src = rng.choice(originals)
            text = texts[src]
            if rng.random() < 0.5:
                text = "  " + text.upper().replace(" ", "   ") + "\n"
            manifest["exact_dups"].append([rel, src])
        elif originals and roll < dup_share + near_share:
            src = rng.choice(originals)
            words = texts[src].split(" ")
            for _ in range(max(1, len(words) // 40)):
                words[rng.randrange(len(words))] = rng.choice(gen.common)
            text = " ".join(words)
            manifest["near_dups"].append([rel, src])
        elif roll < dup_share + near_share + rep_share:
            text = gen.repetitive(topic)
            manifest["repetitive"].append(rel)
        else:
            paras = gen.document(topic)
            if rng.random() < pii_share:
                j = rng.randrange(len(paras))
                pii = gen.pii_string()
                paras[j] = paras[j][:200] + " contact " + pii + " " + paras[j][200:]
                manifest["pii"][rel] = pii
            else:
                manifest["chunks"][rel] = paras
            text = "\n\n".join(paras)
            paras_of[rel] = paras
        texts[rel] = text
        write_file(os.path.join(root, rel), text)
        manifest["files"].append(rel)
    return manifest
