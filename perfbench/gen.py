"""Seeded generators for the benchmark's corpora and query mixes.

The corpus has the shape of ``lucene_solr_spark.corpus`` (repo, path,
commit, lang, content): a Zipf vocabulary plus forced hot tokens. It is
generated here, from the workload seed alone, so the engine under test
only ever receives generated inputs and an edit to ``corpus.py`` cannot
move the benchmark.

The vocabulary size, Zipf exponent, hot tokens and their document shares
are ``corpus.py``'s. Document lengths are per workload (``CorpusSpec``).

Every vocabulary word is a run of lowercase letters and the separators are
punctuation or whitespace, so each word is exactly one token under the
engine's tokenizer. That makes ``sum_ttf`` (total tokens) known from the
generator without tokenizing.
"""

from __future__ import annotations

import functools
import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

SYLLABLES = [
    "get", "set", "map", "list", "node", "util", "parse", "index", "term",
    "query", "doc", "read", "write", "hash", "merge", "scan", "sort", "file",
    "path", "key", "val", "buf", "ctx", "cfg", "io",
]
HOT_TOKENS = ["import", "return", "def", "public", "self"]
HOT_P = [0.7, 0.65, 0.5, 0.35, 0.3]
LANGS = ["python", "java", "go", "js", "c"]
LANG_W = [0.35, 0.25, 0.15, 0.15, 0.10]
EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "c": "c"}
SEPARATORS = np.array([" ", " ", " ", ", ", "(", ") ", ".", " = ", "\n"])


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    min_tokens: int
    max_tokens: int
    vocab_size: int = 20_000
    zipf_alpha: float = 1.2


@functools.lru_cache(maxsize=4)
def vocabulary(seed: int, size: int) -> tuple[str, ...]:
    """``size`` distinct syllable words, none of them a hot token. Words
    with fewer syllables come first, so the Zipf head is short words."""
    rng = np.random.default_rng([seed, 1])
    words = dict.fromkeys(HOT_TOKENS)  # dict: ordered, and skips repeats
    n_syl = 1
    while len(words) < size + len(HOT_TOKENS):
        n = len(SYLLABLES) ** n_syl
        need = size + len(HOT_TOKENS) - len(words)
        for i in rng.choice(n, size=min(n, need), replace=False).tolist():
            digits = [(i // len(SYLLABLES) ** j) % len(SYLLABLES) for j in range(n_syl)]
            words["".join(SYLLABLES[d] for d in digits)] = None
        n_syl += 1
    return tuple(words)[len(HOT_TOKENS):]


def corpus(seed: int, spec: CorpusSpec, id_base: int = 0) -> pd.DataFrame:
    """Docs ``id_base .. id_base + n_docs - 1`` of the seed's corpus, with a
    ``n_tokens`` column (the doc's exact token count) and ``content_sha256``.
    The rows depend only on (seed, spec, id_base)."""
    vocab = vocabulary(seed, spec.vocab_size)
    p = 1.0 / np.arange(1, spec.vocab_size + 1) ** spec.zipf_alpha
    p /= p.sum()
    rng = np.random.default_rng([seed, 2, id_base])
    n = spec.n_docs
    lens = rng.integers(spec.min_tokens, spec.max_tokens + 1, n)
    ends = np.cumsum(lens)
    starts = ends - lens
    words = np.array(list(vocab) + HOT_TOKENS, dtype=object)
    toks = rng.choice(spec.vocab_size, size=int(ends[-1]), p=p)
    # hot tokens overwrite 1-5 positions in a fixed share of the docs
    for h, share in enumerate(HOT_P):
        docs = np.nonzero(rng.random(n) < share)[0]
        reps = rng.integers(1, 6, docs.size)
        owner = np.repeat(docs, reps)
        pos = starts[owner] + (rng.random(owner.size) * lens[owner]).astype(np.int64)
        toks[pos] = spec.vocab_size + h
    seps = SEPARATORS[rng.integers(0, SEPARATORS.size, toks.size)]
    seps[ends - 1] = ""
    pieces = (words[toks] + seps).tolist()
    content = ["".join(pieces[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]
    lang_idx = rng.choice(len(LANGS), size=n, p=LANG_W)
    ids = np.arange(id_base, id_base + n)
    langs = [LANGS[i] for i in lang_idx]
    return pd.DataFrame(
        {
            "repo": [f"org{i % 7}/repo{i % 53}" for i in ids],
            "path": [f"src/m{i % 17}/f{i}.{EXT[l]}" for i, l in zip(ids, langs)],
            "commit": [hashlib.sha1(f"{seed}:{i}".encode()).hexdigest() for i in ids],
            "lang": langs,
            "content": content,
            "n_tokens": lens,
            "content_sha256": [
                hashlib.sha256(c.encode()).hexdigest() for c in content
            ],
        }
    )


@dataclass(frozen=True)
class Query:
    kind: str          # "or" | "and" (Searcher.topk) | "classic" (Searcher.search)
    text: str
    fq: str | None = None
    form: str = ""     # which template made it; one form has one plan shape


def df_bands(terms: pd.DataFrame, n_docs: int) -> dict[str, list[str]]:
    """Split a terms dict (term, df) into rare / mid / hot df bands."""
    t = terms.sort_values("term")
    df = t["df"].to_numpy()
    band = {
        "rare": t["term"][(df >= 2) & (df < 0.005 * n_docs)],
        "mid": t["term"][(df >= 0.005 * n_docs) & (df < 0.1 * n_docs)],
        "hot": t["term"][df >= 0.1 * n_docs],
    }
    return {k: v.tolist() for k, v in band.items()}


# The timed loop walks this cycle, so every seed sees the same sequence of
# query shapes and only the terms change: (kind, classic form, with fq).
# Per cycle: 4 OR, 3 AND, 5 classic strings; 3 of the 12 filter on lang.
CYCLE = [
    ("or", 0, False), ("and", 0, False), ("classic", 0, False), ("or", 0, True),
    ("classic", 1, False), ("and", 0, False), ("or", 0, False), ("classic", 2, False),
    ("and", 0, True), ("classic", 3, False), ("or", 0, False), ("classic", 1, True),
]


def query_mix(
    seed: int, bands: dict[str, list[str]], docs: list[list[str]], n: int
) -> list[Query]:
    """``n`` queries following ``CYCLE``, terms drawn by seed from the df
    bands. OR queries mix one hot, one mid and one rare term; AND queries
    pair a hot and a mid term; classic strings carry ``+``/``-`` clauses
    and quoted phrases taken from adjacent tokens of ``docs``; filters take
    the ``lang`` values in turn."""
    rng = np.random.default_rng([seed, 3])

    def pick(band: str) -> str:
        words = bands[band]
        return words[int(rng.integers(len(words)))]

    def phrase() -> str:
        while True:
            toks = docs[int(rng.integers(len(docs)))]
            if len(toks) >= 2:
                i = int(rng.integers(len(toks) - 1))
                return f'"{toks[i]} {toks[i + 1]}"'

    out = []
    n_fq = 0
    for i in range(n):
        kind, form, with_fq = CYCLE[i % len(CYCLE)]
        if kind == "or":
            text = f"{pick('hot')} {pick('mid')} {pick('rare')}"
        elif kind == "and":
            text = f"{pick('hot')} {pick('mid')}"
        elif form == 0:
            text = f"+{pick('hot')} {pick('mid')} -{pick('rare')}"
        elif form == 1:
            text = f"{phrase()} {pick('mid')}"
        elif form == 2:
            text = phrase()
        else:
            text = f"+{pick('mid')} +{pick('hot')} -{pick('mid')}"
        fq = None
        if with_fq:  # languages in turn: the filter cache misses at the same places
            fq = f"lang = '{LANGS[n_fq % len(LANGS)]}'"
            n_fq += 1
        out.append(Query(kind, text, fq, str(form)))
    return out
