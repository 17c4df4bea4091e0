"""Seeded workload inputs.

Every input the program sees comes from here and depends only on the
seed and a stream number, so the same seed gives the same inputs. Prompts
are 40-60 words drawn from the vocabulary of the sf0.1 ``documents``
table (``vocab.txt``), about 300 characters, like that table's texts.
"""

from __future__ import annotations

import os
from collections import deque

import numpy as np

MIN_WORDS = 40
MAX_WORDS = 60

# A seed no tuning run uses: a claimed gain is checked on it last.
HELDOUT_SEED = 7919

# Streams keep warm-up inputs apart from measured ones.
WARMUP_STREAM = 1000

# Repeats are drawn from this many of a stream's most recent prompts.
HISTORY = 10_000


def load_vocab() -> list[str]:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "vocab.txt")
    with open(path, encoding="utf-8") as fh:
        words = [w.strip() for w in fh if w.strip()]
    if not words:
        raise ValueError(f"empty vocabulary in {path}")
    return words


class PromptStream:
    """Unique prompts from one ``(seed, stream)`` pair.

    ``fresh`` never returns a prompt this stream returned before.
    ``batch_with_repeats`` mixes fresh prompts with repeats of prompts
    the stream sent recently, the traffic a dedup or cache layer can
    exploit.
    """

    def __init__(self, seed: int, stream: int):
        self.rng = np.random.default_rng([seed, stream])
        self.vocab = load_vocab()
        self._seen: set[int] = set()
        self._history: deque[str] = deque(maxlen=HISTORY)

    def fresh(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            k = n - len(out)
            idx = self.rng.integers(0, len(self.vocab), size=(k, MAX_WORDS)).tolist()
            lens = self.rng.integers(MIN_WORDS, MAX_WORDS + 1, size=k).tolist()
            for row, m in zip(idx, lens):
                p = " ".join([self.vocab[i] for i in row[:m]])
                h = hash(p)
                if h not in self._seen:
                    self._seen.add(h)
                    out.append(p)
        return out

    def batch_with_repeats(self, n: int, repeat_frac: float) -> list[str]:
        """``n`` prompts of which ``round(n * repeat_frac)`` repeat earlier
        prompts of this stream (or earlier fresh ones of this batch)."""
        n_rep = round(n * repeat_frac)
        fresh = self.fresh(n - n_rep)
        pool = list(self._history) + fresh
        picks = self.rng.integers(0, len(pool), size=n_rep).tolist()
        batch = fresh + [pool[i] for i in picks]
        order = self.rng.permutation(n).tolist()
        self._history.extend(fresh)
        return [batch[i] for i in order]
