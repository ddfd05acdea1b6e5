"""Seeded transcript-corpus generator for the KG-build benchmark.

Writes driver-layout ``documents.parquet`` tables (doc_id, text, lang,
source, n_chars), so ``read_transcripts`` derives transcripts from them
unchanged and the DuckDB oracles read the same file.

Content model. Every turn has a fixed number of clauses, each
``<mention> <predicate> <mention> .``, so the triple count of the rule
backend is a function of the shape alone and equal for every seed. A
mention names an entity: 1-3 pseudo-word tokens, optionally preceded
by a determiner, written as one of its alias variants (full name, a
suffixed form "<name> corp", a shortened form). The variants share
first/last tokens and reach token-Jaccard >= 0.6, so the exact and
minhash linkers both find real pairs. Entities come from two pools:

* the *head*: a Zipf-ranked vocabulary drawn from ``seed`` alone and
  shared by every job of that seed; rank 0 is the hot entity and
  holds ``Shape.hot_share`` of all head mentions, so one key reaches the
  linking blocks and the edge joins with a large share of rows;
* the *tail*: entities drawn fresh from ``(seed, job)``, so no job
  re-reads another job's rare words.

The seed draws content only: sizes, clause count, predicate share and
the head/tail split are fixed by the ``Shape``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from openie_spark.config import PRED_LEXICON

_LEXICON = frozenset(PRED_LEXICON)

# Syllables for pseudo-words: consonant+vowel(+consonant), two or three
# per word. A word that spells a predicate-lexicon entry ("made",
# "merge") gets an extra letter, so mentions never hold a predicate.
_ONSETS = list("bdfgkmnprstvz")
_VOWELS = list("aeiou")
_CODAS = ["", "", "", "n", "r", "l", "k", "x", "z"]
# Sixteen suffixes keep every suffix block of a 1,500-turn corpus near
# 280-300 members, well under MAX_BLOCK (1,000): no block straddles the
# cap, so the quadratic pair work is the same for every seed.
_SUFFIXES = ("corp", "labs", "works", "systems", "holdings", "partners",
             "ventures", "studios", "media", "capital", "foods", "motors",
             "energy", "logistics", "health", "robotics")
_DETERMINERS = ("the", "a")
_LANGS = ("en", "en", "en", "es", "de", "zh")
# Predicate lexicon words used by the generator, in a fixed order. Two
# adjacent lexicon words form one predicate run ("has been").
_PREDS = ("is", "was", "are", "has", "have", "had", "plays", "played",
          "says", "said", "made", "makes", "wrote", "won", "scan",
          "join", "merge", "sort", "filter", "group", "query", "stream")
_PRED_PAIRS = (("has", "been"), ("was", "being"), ("have", "been"))


@dataclass(frozen=True)
class Shape:
    """Corpus shape: fixed per workload, independent of the seed.

    Measured with ``corpus_stats.py`` against the sf0.1 ``documents``
    table (5,000 turns) and a 1,500-turn corpus of this shape (seed 1):

    ===================================  ===========  ==============
    figure                               sf0.1        this shape
    ===================================  ===========  ==============
    rule triples per turn                10.7         6 (fixed)
    sentences per turn, words each       1.0, 53      6, 7
    mentions per distinct norm           1.06         1.94
    top norm's share of mentions         0.1%         2.3%
    Zipf exponent of norm freq (2-1000)  0.58         0.94
    linkable norms (<= 5 tokens)         9,906        9,302
    live blocks of >= 100 norms          61           16
    largest live blocks                  429-426      300-276
    candidate pairs in live blocks       3.5M         0.56M
    blocks over MAX_BLOCK                0            2 (determiners)
    ===================================  ===========  ==============

    What is matched: the number of linkable norms. The large
    first/last-token blocks, whose size sets the quadratic pair work of
    exact linking, are 0.7x sf0.1's, and there are fewer of them, so
    the pair work is about a sixth of sf0.1's: a larger prior does not
    fit the time budget of one run. What is not matched, on purpose:
    sf0.1's sentences are one long clause list per turn whose arguments
    run to ~32 words, so 90% of its norms are too long to link and
    almost none repeats; the benchmark asks for repeated, linkable
    entities with alias variants and one hot entity (``hot_share``, an
    assumption, not a measurement), so its sentences are short clauses.
    ``zipf_s``, ``tail_share`` and ``det_share`` are likewise chosen,
    not measured.
    """
    turns: int
    clauses_per_turn: int = 6
    head_entities: int = 4000
    hot_share: float = 0.12       # share of head mentions on rank 0
    zipf_s: float = 1.05
    tail_share: float = 0.30      # share of mentions from the fresh tail
    det_share: float = 0.20       # mentions written with a determiner
    pair_pred_share: float = 0.15  # two-word predicate runs
    tail_tokens_max: int = 3      # tail entity length 1..tail_tokens_max


def _pseudo_words(rng: np.random.Generator, n: int) -> list[str]:
    """n pseudo-words, each 2-3 syllables; duplicates are possible and
    harmless (they only merge two entities' spellings)."""
    n_syl = rng.integers(2, 4, size=n)
    on = rng.integers(0, len(_ONSETS), size=(n, 3))
    vo = rng.integers(0, len(_VOWELS), size=(n, 3))
    co = rng.integers(0, len(_CODAS), size=(n, 3))
    out = []
    for i in range(n):
        w = "".join(_ONSETS[on[i, j]] + _VOWELS[vo[i, j]] + _CODAS[co[i, j]]
                    for j in range(n_syl[i]))
        out.append(w + "n" if w in _LEXICON else w)
    return out


def _entities(rng: np.random.Generator, n: int, max_tokens: int) -> list[tuple[str, ...]]:
    lens = rng.integers(1, max_tokens + 1, size=n)
    words = _pseudo_words(rng, int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(tuple(words[at:at + k]))
        at += k
    return out


def _variants(ent: tuple[str, ...], suffix: str) -> tuple[str, ...]:
    """Alias spellings of one entity: full, suffixed, and (for
    multi-token names) the name without its first token."""
    full = " ".join(ent)
    vs = [full, f"{full} {suffix}"]
    if len(ent) == 3:
        vs.append(" ".join(ent[1:]))
    elif len(ent) == 2:
        vs.append(f"{ent[0]} {suffix}")
    return tuple(vs)


class Corpus:
    """Generator for one seed: the head vocabulary is built once and
    shared by every job; each ``write(out_dir, job)`` draws a fresh tail."""

    def __init__(self, seed: int, shape: Shape):
        self.seed = seed
        self.shape = shape
        rng = np.random.default_rng([seed, 0])
        heads = _entities(rng, shape.head_entities, 3)
        sfx = rng.integers(0, len(_SUFFIXES), size=len(heads))
        self.head_variants = [_variants(e, _SUFFIXES[s]) for e, s in zip(heads, sfx)]
        ranks = np.arange(1, len(heads) + 1, dtype=np.float64)
        p = ranks ** -shape.zipf_s
        p[0] = 0.0
        p = p / p.sum() * (1.0 - shape.hot_share)
        p[0] = shape.hot_share
        self.head_p = p

    def _mentions(self, rng: np.random.Generator, n: int) -> list[str]:
        s = self.shape
        is_tail = rng.random(n) < s.tail_share
        n_tail = int(is_tail.sum())
        tail = _entities(rng, n_tail, s.tail_tokens_max)
        tail_sfx = rng.integers(0, len(_SUFFIXES), size=n_tail)
        head_idx = rng.choice(len(self.head_variants), size=n, p=self.head_p)
        var_pick = rng.integers(0, 3, size=n)
        det = rng.random(n) < s.det_share
        det_pick = rng.integers(0, len(_DETERMINERS), size=n)
        out, ti = [], 0
        for i in range(n):
            if is_tail[i]:
                vs = _variants(tail[ti], _SUFFIXES[tail_sfx[ti]])
                ti += 1
            else:
                vs = self.head_variants[head_idx[i]]
            m = vs[var_pick[i] % len(vs)]
            out.append(f"{_DETERMINERS[det_pick[i]]} {m}" if det[i] else m)
        return out

    def texts(self, job: int) -> list[str]:
        """Turn texts of job ``job``: turns x clauses_per_turn clauses."""
        s = self.shape
        rng = np.random.default_rng([self.seed, 1, job])
        n = s.turns * s.clauses_per_turn
        subj = self._mentions(rng, n)
        obj = self._mentions(rng, n)
        pair = rng.random(n) < s.pair_pred_share
        p1 = rng.integers(0, len(_PREDS), size=n)
        p2 = rng.integers(0, len(_PRED_PAIRS), size=n)
        clauses = [
            f"{subj[i]} {' '.join(_PRED_PAIRS[p2[i]]) if pair[i] else _PREDS[p1[i]]} {obj[i]} ."
            for i in range(n)
        ]
        c = s.clauses_per_turn
        return [" ".join(clauses[t * c:(t + 1) * c]) for t in range(s.turns)]

    def table(self, job: int, first_doc_id: int = 0) -> pa.Table:
        texts = self.texts(job)
        n = len(texts)
        doc_id = np.arange(first_doc_id, first_doc_id + n, dtype=np.int64)
        return pa.table({
            "doc_id": doc_id,
            "text": texts,
            "lang": [_LANGS[i % len(_LANGS)] for i in doc_id],
            "source": [f"src{i % 97}" for i in doc_id],
            "n_chars": np.fromiter((len(t) for t in texts), np.int64, n),
        })

    def write(self, out_dir: str, job: int, first_doc_id: int = 0) -> str:
        """Write ``<out_dir>/documents.parquet`` for job ``job`` and
        return ``out_dir``. The same (seed, shape, job, first_doc_id)
        gives a byte-identical file."""
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(self.table(job, first_doc_id),
                       os.path.join(out_dir, "documents.parquet"),
                       compression="snappy", row_group_size=1 << 20)
        return out_dir
