"""Seeded synthetic document corpus for the curation workload.

Written as ``documents.parquet`` with the schema the registry's document
queries read (doc_id, text, lang, source, n_chars). Same seed and size
give byte-identical files. The corpus mixes:

* five languages: English (the curation keeps only these), Spanish,
  French and German with their marker words, and a marker-free
  CJK-like language the language id calls undetermined;
* 20 sources with skewed shares;
* 30 % noisy documents (symbol runs) that fail the quality threshold;
* 10 % exact duplicates and 15 % near duplicates (about 8 % of tokens
  replaced) of earlier documents, so both dedup stages have work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP_ROWS = 4096
N_SOURCES = 20
EXACT_DUP_FRAC = 0.10
NEAR_DUP_FRAC = 0.15

SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])

# marker and stop words the language id and quality score look for
# (functions/text.py), so the generated languages are recognisable
_FUNCTION_WORDS = {
    "en": "the a an and or of to in is are was for on with as at by it this that".split(),
    "es": "el la de que y en los las un una".split(),
    "fr": "le la et les des un une du en est".split(),
    "de": "der die und das ist ein eine zu den mit".split(),
}
_LANGS = ("en", "es", "fr", "de", "zh")
_LANG_P = (0.5, 0.12, 0.12, 0.12, 0.14)
_SYLLABLES = ("ka ri to ne mu sa lo pe vi da ch en or al is um ba de fi go "
              "ha jo ku le mi no pu ra se ti vo we xa yu zo").split()
_CJK = [chr(c) for c in range(0x4E00, 0x4E00 + 400)]


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        words.add("".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n)))
    return np.array(sorted(words), dtype=object)


def _fresh_doc(rng, lang: str, vocab: np.ndarray, cjk: np.ndarray) -> list[str]:
    n = int(rng.integers(20, 140))
    if lang == "zh":
        return [str(w) + str(x) for w, x in zip(rng.choice(cjk, n), rng.choice(cjk, n))]
    toks = rng.choice(vocab, n)
    fw = np.array(_FUNCTION_WORDS[lang], dtype=object)
    share = 0.35 if lang == "en" else 0.25
    mask = rng.random(n) < share
    toks[mask] = rng.choice(fw, int(mask.sum()))
    punct = rng.random(n) < 0.06
    toks[punct] = [t + "," for t in toks[punct]]
    return list(toks)


def generate_docs(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = _vocab(rng, 3000)
    cjk = np.array(_CJK, dtype=object)
    src_p = rng.dirichlet(np.full(N_SOURCES, 2.0))
    kind = rng.random(n_docs)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs):
        if i > 10 and kind[i] < EXACT_DUP_FRAC:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 10 and kind[i] < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            edit = rng.random(len(toks)) < 0.08
            for k in np.flatnonzero(edit):
                toks[k] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks))
            langs.append(langs[j])
            continue
        lang = _LANGS[int(rng.choice(len(_LANGS), p=_LANG_P))]
        toks = _fresh_doc(rng, lang, vocab, cjk)
        if rng.random() < 0.3:
            for k in rng.integers(0, len(toks), max(1, len(toks) // 4)):
                toks[k] = "#$%" + toks[k] + "@@"
        texts.append(" ".join(toks))
        langs.append(lang)
    sources = rng.choice(N_SOURCES, n_docs, p=src_p)
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in sources],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, schema=SCHEMA)


def ensure_docs(cache_dir: str, seed: int, n_docs: int) -> str:
    """Directory holding ``documents.parquet`` for this seed and size,
    generated once and reused."""
    out = os.path.join(cache_dir, f"docs-s{seed}-n{n_docs}")
    path = os.path.join(out, "documents.parquet")
    if os.path.exists(path):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(generate_docs(seed, n_docs),
                   os.path.join(tmp, "documents.parquet"),
                   row_group_size=ROW_GROUP_ROWS, compression="snappy")
    os.replace(tmp, out)
    return out
