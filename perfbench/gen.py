"""Seeded transcript corpus and query generator.

Everything here is plain NumPy/pandas on the driver: the same seed gives the
same turns and the same query pool, and the engine only ever sees the
generated rows and query strings.

Text is drawn from a 2^16-word vocabulary with a Zipf(``ZIPF_S``) rank
distribution, so posting lists span a few very hot terms, a torso and a long
tail of rare ones. The analyzer's stopwords hold the top ranks, as function
words do in real text, so the StopFilter drops about two fifths of all tokens
and phrase positions are renumbered over the gaps. Query and rule terms are
drawn from three rank bands of the content words that actually occur in the
generated corpus; phrases are copied from adjacent words of a generated
turn.

Sources and assumptions:

- Word frequencies in natural-language text follow Zipf's law with an
  exponent close to 1 (Zipf, *Human Behavior and the Principle of Least
  Effort*, 1949; Piantadosi, "Zipf's word frequency law in natural
  language", Psychonomic Bulletin & Review 21, 2014). ``ZIPF_S`` = 1.05 is an
  assumption inside that range, not a fit to a transcript corpus.
- Turn length (uniform 8-40 words), the share of turns with a tool, and the
  head / torso / tail rank cut-offs are assumptions chosen to give every
  query shape non-empty results; no measured source stands behind them.
"""

from __future__ import annotations

import string
from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB_SIZE = 1 << 16
VOCAB_SEED = 20_240_601  # the vocabulary is fixed; only corpus/queries vary
ZIPF_S = 1.05
WORDS_MIN, WORDS_MAX = 8, 40  # words per turn, uniform (mean 24)
TURNS_PER_CONV = 20
TOOLS = ("search", "python", "browser", "sql", "shell")
SUFFIXES = ("", "s", "ed", "ing", "er", "ers", "ly", "ness")

# rank bands (0-based rank in the generated corpus' document frequency)
HEAD = (0, 40)
TORSO = (200, 3000)
TAIL_MIN_DF = 3  # tail words still occur in a few turns

SHAPES = ("head", "torso", "tail", "and2", "or3", "phrase2", "prefix", "fuzzy",
          "mixed")


def vocabulary() -> np.ndarray:
    """2^16 distinct lowercase words in Zipf rank order: the analyzer's
    stopwords first, then content words.

    Content words are random 3-7 letter stems times :data:`SUFFIXES`, so a
    prefix or a one-edit fuzzy term expands to a word family as in real
    text; their rank order is shuffled so a family's members spread over
    the ranks. No content word is a stopword."""
    from whoosh_spark.analysis import STOP_WORDS

    rng = np.random.default_rng(VOCAB_SEED)
    stop = sorted(STOP_WORDS)
    letters = np.array(list(string.ascii_lowercase))
    seen: set[str] = set(stop)
    words: list[str] = []
    n_content = VOCAB_SIZE - len(stop)
    while len(words) < n_content:
        n = int(rng.integers(3, 8))
        stem = "".join(rng.choice(letters, size=n))
        family = [stem + suf for suf in SUFFIXES]
        if any(w in seen for w in family):
            continue
        seen.update(family)
        words.extend(family)
    content = np.array(words[:n_content], dtype=object)[rng.permutation(n_content)]
    return np.concatenate([np.array(stop, dtype=object)[rng.permutation(len(stop))],
                           content])


def n_stop() -> int:
    """Number of top vocabulary ranks that are stopwords."""
    from whoosh_spark.analysis import STOP_WORDS

    return len(STOP_WORDS)


@dataclass
class Corpus:
    turns: pd.DataFrame  # transcript schema + dense doc_id
    word_ids: np.ndarray  # flat vocabulary ids of every generated word
    offsets: np.ndarray  # turn i's words are word_ids[offsets[i]:offsets[i+1]]
    vocab: np.ndarray

    @property
    def text_bytes(self) -> int:
        return int(self.turns["text"].str.len().sum())


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
    return np.cumsum(w) / w.sum()


def make_corpus(n_turns: int, seed: int, vocab: np.ndarray,
                doc_id_base: int = 0, conv_base: int = 0) -> Corpus:
    """``n_turns`` transcript turns (conv_id, turn_idx, role, text, tool, ts)
    with ``doc_id`` = ``doc_id_base`` + row, in (conv_id, turn_idx) order."""
    rng = np.random.default_rng([seed, conv_base])
    lens = rng.integers(WORDS_MIN, WORDS_MAX + 1, size=n_turns)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    ids = np.searchsorted(_zipf_cdf(), rng.random(int(offsets[-1])), side="right")
    ids = np.minimum(ids, VOCAB_SIZE - 1)
    words = vocab[ids]
    text = [" ".join(words[offsets[i]:offsets[i + 1]]) for i in range(n_turns)]
    row = np.arange(n_turns, dtype=np.int64)
    conv = conv_base + row // TURNS_PER_CONV
    tool_pick = rng.integers(0, len(TOOLS), size=n_turns)
    has_tool = rng.random(n_turns) < 0.15
    turns = pd.DataFrame({
        "doc_id": row + doc_id_base,
        "conv_id": [f"c{c:012d}" for c in conv],
        "turn_idx": (row % TURNS_PER_CONV).astype(np.int64),
        "role": np.where(row % 2 == 0, "user", "assistant"),
        "text": text,
        "tool": pd.Series(np.array(TOOLS, dtype=object)[tool_pick]).where(has_tool, None),
        "ts": pd.Timestamp("2025-01-01") + pd.to_timedelta(row + doc_id_base, unit="s"),
    })
    return Corpus(turns, ids, offsets, vocab)


def to_spark(spark, turns: pd.DataFrame, path: str):
    """Write the generated turns to Parquet at ``path`` and read them back
    as a Spark DataFrame (much faster than ``createDataFrame`` from pandas)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("doc_id", pa.int64()), ("conv_id", pa.string()), ("turn_idx", pa.int64()),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ])
    pq.write_table(pa.Table.from_pandas(turns, schema=schema, preserve_index=False),
                   path)
    return spark.read.parquet(path)


def _doc_freq(c: Corpus) -> np.ndarray:
    """Number of turns each vocabulary id occurs in."""
    turn_of = np.repeat(np.arange(len(c.offsets) - 1), np.diff(c.offsets))
    pairs = np.unique(turn_of.astype(np.int64) * VOCAB_SIZE + c.word_ids)
    return np.bincount(pairs % VOCAB_SIZE, minlength=VOCAB_SIZE)


def bands(c: Corpus) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vocabulary ids of the head, torso and tail content words of ``c``,
    ranked by document frequency in ``c``."""
    df = _doc_freq(c)
    df[:n_stop()] = 0  # stopwords never reach the index
    by_df = np.argsort(-df, kind="stable")
    present = by_df[df[by_df] > 0]
    head = present[HEAD[0]:HEAD[1]]
    torso = present[TORSO[0]:min(TORSO[1], len(present))]
    tail = present[(df[present] >= TAIL_MIN_DF) & (np.arange(len(present)) >= TORSO[1])]
    if len(tail) == 0:  # small corpora: the rarest words that still repeat
        tail = present[df[present] >= 2][-50:]
    return head, torso, tail


def phrase(c: Corpus, rng) -> str:
    """Adjacent words of a generated turn that hold exactly two content
    words, first and last; any stopwords between them are kept, so the
    phrase matches only through renumbered positions."""
    first = n_stop()
    while True:
        t = int(rng.integers(0, len(c.offsets) - 1))
        lo, hi = int(c.offsets[t]), int(c.offsets[t + 1])
        i = int(rng.integers(lo, hi - 1))
        if c.word_ids[i] < first:
            continue
        j = i + 1
        while j < hi and c.word_ids[j] < first:
            j += 1
        if j < hi and c.word_ids[i] != c.word_ids[j]:
            return " ".join(c.vocab[c.word_ids[i:j + 1]])


def query_pool(c: Corpus, seed: int, n: int = len(SHAPES)) -> list[tuple[str, str]]:
    """``n`` (shape, query string) pairs cycling through :data:`SHAPES`;
    by default one query of every shape."""
    rng = np.random.default_rng([seed, 7])
    head, torso, tail = bands(c)
    v = c.vocab

    def pick(band, k=1):
        return list(v[rng.choice(band, size=k, replace=False)])

    def fuzzy_word():
        while True:
            w = pick(torso)[0]
            if len(w) >= 5:
                i = int(rng.integers(1, len(w)))
                sub = string.ascii_lowercase[int(rng.integers(0, 26))]
                if sub != w[i]:
                    return w[:i] + sub + w[i + 1:]

    out = []
    for k in range(n):
        shape = SHAPES[k % len(SHAPES)]
        if shape == "head":
            q = pick(head)[0]
        elif shape == "torso":
            q = pick(torso)[0]
        elif shape == "tail":
            q = pick(tail)[0]
        elif shape == "and2":
            q = "{} AND {}".format(*(pick(head) + pick(torso)))
        elif shape == "or3":
            q = "{} OR {} OR {}".format(*(pick(head) + pick(torso) + pick(tail)))
        elif shape == "phrase2":
            q = f'"{phrase(c, rng)}"'
        elif shape == "prefix":
            q = pick(torso)[0][:3] + "*"
        elif shape == "fuzzy":
            q = fuzzy_word() + "~1"
        else:
            q = f'"{phrase(c, rng)}" OR {pick(torso)[0]}^2'
        out.append((shape, q))
    return out


def rule_set(c: Corpus, seed: int, n: int) -> dict[str, str]:
    """``n`` standing percolation rules (flat Term / AND / OR strings); each
    word comes from the head, torso or tail band of ``c``, band chosen
    uniformly, as the query terms do."""
    rng = np.random.default_rng([seed, 11])
    by_band = bands(c)
    v = c.vocab

    def word():
        band = by_band[int(rng.integers(0, 3))]
        return v[band[int(rng.integers(0, len(band)))]]

    rules = {}
    for i in range(n):
        kind = i % 3
        if kind == 0:
            rules[f"r{i:05d}"] = word()
            continue
        ws = [word()]
        while len(ws) < kind + 1:
            w = word()
            if w not in ws:
                ws.append(w)
        rules[f"r{i:05d}"] = f" {'AND' if kind == 1 else 'OR'} ".join(ws)
    return rules
