"""Seeded benchmark inputs.  A seed changes which pages, words and
planted copies are drawn, never how many of them there are or the mix
of query shapes."""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from orama_spark.kernel.tokenizer import Tokenizer, TokenizerConfig
from orama_spark.sources.webpages import CorpusGenerator

# id spaces: batch b holds pages b*ID_STRIDE + 1 .. + n, its planted
# copies follow them; refresh texts come from a disjoint id range
ID_STRIDE = 1_000_000
REFRESH_TEXT_OFFSET = 500_000_000
# a planted copy changes one word of a page with at least this many
MIN_PLANT_WORDS = 40

SHAPES = ("prefix", "and", "filter", "fuzzy", "wand")
LANGS = ("en", "de", "fr", "es")


def rng_for(seed: int, purpose: int) -> np.random.Generator:
    """An independent stream per (seed, purpose), so drawing more for one
    purpose never shifts another's draws.  Purposes: 3 the query
    sequence, 100 + b ingest batch b, 200 + n the pair sample of op n."""
    return np.random.default_rng([seed, purpose])


def pages(gen: CorpusGenerator, ids: np.ndarray) -> pd.DataFrame:
    cols = gen.batch(ids.astype(np.int64))
    return pd.DataFrame({"doc_id": ids.astype(np.int64), "text": cols["text"],
                         "lang": cols["lang"]})


def plant_near_duplicates(gen: CorpusGenerator, pdf: pd.DataFrame, n: int,
                          first_id: int, rng: np.random.Generator
                          ) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """Append ``n`` copies of drawn pages, each with one word replaced by
    a different vocabulary word.  Returns the grown frame and the
    planted (source id, copy id) pairs."""
    word_counts = pdf["text"].str.count(" ") + 1
    eligible = np.flatnonzero(word_counts.to_numpy() >= MIN_PLANT_WORDS)
    src_rows = rng.choice(eligible, size=n, replace=False)
    copies, pairs = [], []
    for j, row in enumerate(sorted(src_rows)):
        words = pdf["text"].iat[row].split(" ")
        pos = int(rng.integers(len(words)))
        repl = words[pos]
        while repl == words[pos]:
            repl = str(gen.vocab[int(rng.integers(len(gen.vocab)))])
        words[pos] = repl
        copy_id = first_id + j
        copies.append({"doc_id": copy_id, "text": " ".join(words),
                       "lang": pdf["lang"].iat[row]})
        pairs.append((int(pdf["doc_id"].iat[row]), copy_id))
    grown = pd.concat([pdf, pd.DataFrame(copies)], ignore_index=True)
    return grown, pairs


def write_parts(pdf: pd.DataFrame, path: str, parts: int) -> None:
    """Write ``pdf`` as ``parts`` contiguous parquet files, so a scan
    reads it with ``parts`` tasks in id order."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        pdf.iloc[chunk].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), index=False
        )


def text_bytes(texts) -> int:
    return sum(len(t.encode("utf-8")) for t in texts)


@dataclass(frozen=True)
class Query:
    shape: str
    term: str
    lang: str = ""

    def search_kwargs(self) -> dict:
        """Arguments of ``SearchIndex.search`` for the engine shapes."""
        if self.shape == "and":
            return {"term": self.term, "threshold": 0.0}
        if self.shape == "filter":
            return {"term": self.term, "where": {"lang": {"eq": self.lang}}}
        if self.shape == "fuzzy":
            return {"term": self.term, "tolerance": 1}
        return {"term": self.term}


def _zipf_words(gen: CorpusGenerator, tok: Tokenizer,
                rng: np.random.Generator, n: int, min_len: int = 1) -> list[str]:
    """Words drawn with the corpus's own Zipf skew, skipping words the
    index drops (stopwords) and words shorter than ``min_len``."""
    out: list[str] = []
    while len(out) < n:
        w = str(gen.vocab[int(np.searchsorted(gen.cdf, rng.random(), side="right"))])
        if len(w) >= min_len and tok.tokenize(w):
            out.append(w)
    return out


def _typo(word: str, rng: np.random.Generator) -> str:
    """One substituted letter (Levenshtein distance 1)."""
    pos = int(rng.integers(len(word)))
    letters = [c for c in "abcdefghijklmnopqrstuvwxyz" if c != word[pos]]
    return word[:pos] + letters[int(rng.integers(len(letters)))] + word[pos + 1:]


def query_sequence(gen: CorpusGenerator, seed: int, per_shape: int) -> list[Query]:
    """``per_shape`` queries of each shape, interleaved in SHAPES order."""
    rng = rng_for(seed, 3)
    tok = Tokenizer(TokenizerConfig.full())
    seq = []
    for _ in range(per_shape):
        one, two = _zipf_words(gen, tok, rng, 2)
        while two == one:
            two = _zipf_words(gen, tok, rng, 1)[0]
        seq.append(Query("prefix", one))
        seq.append(Query("and", f"{one} {two}"))
        seq.append(Query("filter", two, lang=str(rng.choice(LANGS))))
        seq.append(Query("fuzzy", _typo(_zipf_words(gen, tok, rng, 1, min_len=5)[0], rng)))
        seq.append(Query("wand", " ".join(_zipf_words(gen, tok, rng, 2))))
    return seq
