"""Seeded, vectorised input generators for the benchmark.

Every input a workload reads is a pure function of ``(seed, size)``: the
same arguments give byte-identical files.  Randomness is drawn in bulk
from one ``numpy.random.Generator`` per table; the only per-row Python
work is joining already-drawn tokens into strings.

Tables (all under one data directory, the ``sf_dir`` the registered
queries read):

- ``sst2/{train,dev}.tsv`` and ``qqp/{train,dev}.tsv``: GLUE-shaped TSVs
  with a planted lexical signal, plus the FIXTURES.md F1/F2 edge rows
  (empty and punctuation-only sentences, stopword-only and single-char
  rows, null labels; for QQP quoted fields with embedded tabs and quotes
  and null question rows).
- ``documents.parquet``: a Zipf-vocabulary corpus over 20 sources and 5
  languages with planted exact duplicates and planted near-duplicate
  pairs whose true 2-shingle Jaccard is recorded.
- ``embeddings.parquet``: clustered 64-dimensional float vectors.

``truth.json`` beside the tables records what the checks compare with.

CLI: ``python3 perfbench/gen.py --seed 7 --out DIR`` writes every table.
"""

from __future__ import annotations

import argparse
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 20
EMBED_DIM = 64
# A few English stopwords sit in every vocabulary head so the stopword
# filters (MLlib StopWordsRemover, text_quality's ratio) have work to do.
STOPWORDS = ("the", "of", "and", "to", "in", "is", "it", "that", "for", "on")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_TOKEN_SPLIT = re.compile(r"\W+")

# Table sizes per workload; the benchmark's single source of sizing.
SIZES = {
    "glue": {"train": 8_000, "dev": 1_000},
    "docs": {"docs": 3_000},
    "vecs": {"vectors": 1_000},
    "requests": {"train": 5_000},
}
KINDS = tuple(SIZES)


def _words(rng: np.random.Generator, n: int, min_len: int = 3, max_len: int = 9) -> np.ndarray:
    """n distinct lowercase pseudo-words, drawn in one block."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        m = 2 * (n - len(out)) + 16
        lens = rng.integers(min_len, max_len + 1, size=m)
        chars = _LETTERS[rng.integers(0, 26, size=int(lens.sum()))]
        cuts = np.cumsum(lens)[:-1]
        for w in ("".join(p) for p in np.split(chars, cuts)):
            if w not in seen and w not in STOPWORDS:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return np.array(out, dtype=object)


def _zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _join_rows(tokens: np.ndarray, lengths: np.ndarray) -> list[str]:
    """Split a flat token array by per-row lengths and space-join each row."""
    if len(lengths) == 0:
        return []
    cuts = np.cumsum(lengths)[:-1]
    return [" ".join(r) for r in np.split(tokens, cuts)]


# ---------------------------------------------------------------------------
# GLUE-shaped TSVs
# ---------------------------------------------------------------------------


class _Lexicon:
    """Background Zipf vocabulary plus positive and negative signal words."""

    def __init__(self, rng: np.random.Generator, n_background: int = 4000, n_signal: int = 60):
        words = _words(rng, n_background + 2 * n_signal)
        self.background = np.concatenate([np.array(STOPWORDS, dtype=object), words[:n_background]])
        self.pos = words[n_background : n_background + n_signal]
        self.neg = words[n_background + n_signal :]
        self.p_bg = _zipf_probs(len(self.background))

    def sentences(self, rng: np.random.Generator, labels: np.ndarray, lo: int, hi: int) -> list[str]:
        """One sentence per label: Zipf background with 2-4 signal words,
        each from the label's side with probability 0.85."""
        n = len(labels)
        n_bg = rng.integers(lo, hi + 1, size=n)
        n_sig = rng.integers(2, 5, size=n)
        bg = self.background[rng.choice(len(self.background), size=int(n_bg.sum()), p=self.p_bg)]
        own = np.repeat(labels, n_sig) == 1
        agree = rng.random(int(n_sig.sum())) < 0.85
        use_pos = own == agree
        sig_idx = rng.integers(0, len(self.pos), size=int(n_sig.sum()))
        sig = np.where(use_pos, self.pos[sig_idx], self.neg[sig_idx])
        # signal words go after the background words of the same row; rows
        # are interleaved by building a combined order key
        row_bg = np.repeat(np.arange(n), n_bg)
        row_sig = np.repeat(np.arange(n), n_sig)
        rows = np.concatenate([row_bg, row_sig])
        toks = np.concatenate([bg, sig])
        pos_key = rng.random(len(toks))
        order = np.lexsort((pos_key, rows))
        return _join_rows(toks[order], n_bg + n_sig)


def _sst2_rows(rng: np.random.Generator, lex: _Lexicon, n: int) -> tuple[list[str], int]:
    """(lines, kept): TSV body lines and how many survive the engine's
    sst2 cleanup (``na.drop`` on sentence and label)."""
    labels = (rng.random(n) < 0.55).astype(np.int64)
    sents = lex.sentences(rng, labels, 6, 18)
    # mixed case on ~10% of rows
    for i in np.flatnonzero(rng.random(n) < 0.1):
        sents[i] = sents[i].title()
    lab = [str(x) for x in labels]
    # FIXTURES.md F1 edge rows on ~1% of rows, cycling through five kinds
    edge = np.flatnonzero(rng.random(n) < 0.01)
    dropped = 0
    for j, i in enumerate(edge):
        kind = j % 5
        if kind == 0:
            sents[i] = ""  # empty field reads as null -> dropped
            dropped += 1
        elif kind == 1:
            sents[i] = "!!! ... ?? ;;"  # tokenizes to nothing
        elif kind == 2:
            sents[i] = "the of and to"  # stopwords only
        elif kind == 3:
            sents[i] = "a b c " + sents[i]  # single-char tokens
        else:
            lab[i] = ""  # null label -> dropped
            dropped += 1
    lines = [f"{s}\t{y}" for s, y in zip(sents, lab)]
    return lines, n - dropped


def _quote(field: str) -> str:
    return '"' + field.replace('"', '""') + '"'


def _qqp_rows(rng: np.random.Generator, lex: _Lexicon, n: int, id0: int) -> tuple[list[str], int]:
    """(lines, kept) for the QQP shape: ~37% duplicates, quoted fields with
    embedded tabs and quotes, rows with a null question or label."""
    labels = (rng.random(n) < 0.37).astype(np.int64)
    q1 = lex.sentences(rng, labels, 5, 12)
    q2 = lex.sentences(rng, labels, 5, 12)
    qid = rng.integers(1, 10_000_000, size=2 * n)
    quote_mode = rng.integers(0, 10, size=n)
    lab = [str(x) for x in labels]
    dropped = 0
    for i in np.flatnonzero(quote_mode == 0):
        q1[i] = _quote(q1[i] + '\twith "tab" inside')
    for i in np.flatnonzero(quote_mode == 1):
        q2[i] = _quote('say "' + q2[i] + '"')
    for j, i in enumerate(np.flatnonzero(quote_mode == 2)):
        if j % 10 == 0:
            q2[i] = ""  # null question -> dropped
            dropped += 1
        elif j % 10 == 5:
            lab[i] = ""  # null label -> dropped
            dropped += 1
        else:
            q1[i] = _quote(q1[i])  # quoted without special characters
    lines = [
        f"{id0 + i}\t{qid[2 * i]}\t{qid[2 * i + 1]}\t{a}\t{b}\t{y}"
        for i, (a, b, y) in enumerate(zip(q1, q2, lab))
    ]
    return lines, n - dropped


def _write_lines(path: str, header: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(header + "\n")
        f.write("\n".join(lines))
        f.write("\n")


def gen_glue(seed: int, out: str, n_train: int, n_dev: int, tasks: tuple[str, ...] = ("sst2", "qqp")) -> dict:
    """Write ``<task>/{train,dev}.tsv``; returns the kept row counts."""
    truth: dict[str, dict[str, int]] = {}
    for t_i, task in enumerate(tasks):
        rng = np.random.default_rng([seed, 1, t_i])
        lex = _Lexicon(rng)
        os.makedirs(os.path.join(out, task), exist_ok=True)
        truth[task] = {}
        for split, n in (("train", n_train), ("dev", n_dev)):
            if task == "sst2":
                lines, kept = _sst2_rows(rng, lex, n)
                header = "sentence\tlabel"
            else:
                lines, kept = _qqp_rows(rng, lex, n, 0 if split == "train" else n_train)
                header = "id\tqid1\tqid2\tquestion1\tquestion2\tis_duplicate"
            _write_lines(os.path.join(out, task, f"{split}.tsv"), header, lines)
            truth[task][split] = kept
    return truth


def sst2_texts(seed: int, n: int) -> tuple[list[str], np.ndarray]:
    """(texts, planted labels): request texts for the serving workload,
    sst2-shaped sentences over the lexicon its training file uses."""
    rng = np.random.default_rng([seed, 4])
    lex = _Lexicon(np.random.default_rng([seed, 1, 0]))
    labels = (rng.random(n) < 0.5).astype(np.int64)
    return lex.sentences(rng, labels, 6, 18), labels


# ---------------------------------------------------------------------------
# documents.parquet
# ---------------------------------------------------------------------------


def shingles(text: str, k: int = 2) -> set[tuple[str, ...]]:
    """Distinct token k-shingles under the engine's tokenizer
    (lowercase, split on ``\\W+``, tokens of length >= 2)."""
    toks = [t for t in _TOKEN_SPLIT.split(text.lower()) if len(t) >= 2]
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_documents(seed: int, out: str, n_docs: int) -> dict:
    """Write ``documents.parquet``; returns the planted ground truth.

    Layout: ``n_base`` random documents, then exact copies of some base
    documents (1-2 extra copies each), then near-duplicate variants of
    other base documents (1-4 token substitutions).  Ids are shuffled so
    planted rows are spread over the file.  Neither copies nor variants
    carry PII, so scrubbing cannot merge or split them."""
    rng = np.random.default_rng([seed, 2])
    n_exact_src = n_docs // 40
    n_near = n_docs // 20
    copies = rng.integers(1, 3, size=n_exact_src)
    n_base = n_docs - int(copies.sum()) - n_near

    vocabs = [_words(rng, 3000) for _ in LANGS]
    p = _zipf_probs(3000 + len(STOPWORDS), 1.05)
    lang_of = rng.choice(len(LANGS), size=n_base, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    lens = rng.integers(24, 90, size=n_base)
    word_idx = rng.choice(len(p), size=int(lens.sum()), p=p)
    row_lang = np.repeat(lang_of, lens)
    toks = np.empty(len(word_idx), dtype=object)
    stop = word_idx < len(STOPWORDS)
    toks[stop] = np.array(STOPWORDS, dtype=object)[word_idx[stop]]
    for li, vocab in enumerate(vocabs):
        m = (~stop) & (row_lang == li)
        toks[m] = vocab[word_idx[m] - len(STOPWORDS)]
    texts = _join_rows(toks, lens)
    # PII on ~3% of base documents (none of them is copied or varied below)
    pii_rows = rng.choice(n_base, size=n_base // 33, replace=False)
    for j, i in enumerate(np.sort(pii_rows)):
        pii = (f"mail u{i}.x@ex{j % 7}.org", f"call 555-{i % 1000:03d}-{j % 10000:04d}", f"host 10.{j % 250}.{i % 250}.7")[j % 3]
        texts[i] = texts[i] + " " + pii
    base_langs = [LANGS[x] for x in lang_of]

    clean = np.setdiff1d(np.arange(n_base), pii_rows)
    picks = rng.choice(clean, size=n_exact_src + n_near, replace=False)
    exact_src, near_src = picks[:n_exact_src], picks[n_exact_src:]

    all_texts = list(texts)
    all_langs = list(base_langs)
    origin = list(range(n_base))  # row -> base row it derives from
    for s, c in zip(exact_src, copies):
        for _ in range(int(c)):
            all_texts.append(texts[s])
            all_langs.append(base_langs[s])
            origin.append(int(s))
    n_sub = rng.integers(1, 5, size=n_near)
    near_rows = []
    for s, k in zip(near_src, n_sub):
        words = texts[s].split(" ")
        at = rng.choice(len(words), size=int(k), replace=False)
        vocab = vocabs[LANGS.index(base_langs[s])]
        for a in at:
            w = vocab[rng.integers(0, len(vocab))]
            # a substitution must change the word, or the variant could
            # equal its base and become an unrecorded exact duplicate
            words[a] = w if w != words[a] else vocab[(np.flatnonzero(vocab == w)[0] + 1) % len(vocab)]
        near_rows.append(len(all_texts))
        all_texts.append(" ".join(words))
        all_langs.append(base_langs[s])
        origin.append(int(s))

    n = len(all_texts)
    ids = rng.permutation(n).astype(np.int64)  # row r gets doc_id ids[r]
    sources = rng.integers(0, N_SOURCES, size=n)
    if len(set(texts)) != n_base:
        raise RuntimeError("generator drew two identical base documents")
    near_pairs = []
    for r in near_rows:
        s = origin[r]
        a, b = sorted((int(ids[s]), int(ids[r])))
        near_pairs.append([a, b, round(jaccard(all_texts[s], all_texts[r]), 4)])
    near_pairs.sort()

    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([all_texts[r] for r in order], pa.string()),
            "lang": pa.array([all_langs[r] for r in order], pa.string()),
            "source": pa.array([f"src{sources[r]}" for r in order], pa.string()),
            "n_chars": pa.array([len(all_texts[r]) for r in order], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return {
        "n_docs": n,
        "exact_dup_copies": int(copies.sum()),
        "near_pairs": near_pairs,
    }


# ---------------------------------------------------------------------------
# embeddings.parquet
# ---------------------------------------------------------------------------


def embedding_matrix(seed: int, n: int, n_clusters: int = 24) -> tuple[np.ndarray, np.ndarray]:
    """(vectors float32 [n, 64], cluster labels int32)."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(n_clusters, EMBED_DIM))
    labels = rng.integers(0, n_clusters, size=n).astype(np.int32)
    vecs = centers[labels] + rng.normal(scale=0.45, size=(n, EMBED_DIM))
    return vecs.astype(np.float32), labels


def gen_embeddings(seed: int, out: str, n: int) -> dict:
    vecs, labels = embedding_matrix(seed, n)
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1), pa.float32()))
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(out, "embeddings.parquet"))
    return {"n_vectors": n}


def exact_topk(vecs: np.ndarray, query_ids: np.ndarray, k: int = 5) -> np.ndarray:
    """Exact cosine top-k neighbour ids (self excluded) for each query id,
    ties broken by the lower id — the engine's ranking rule."""
    v = vecs.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out = np.empty((len(query_ids), k), dtype=np.int64)
    for s in range(0, len(query_ids), 512):
        q = query_ids[s : s + 512]
        sim = v[q] @ v.T
        sim[np.arange(len(q)), q] = -np.inf
        # stable sort on -sim keeps lower ids first among equal scores
        out[s : s + 512] = np.argsort(-sim, axis=1, kind="stable")[:, :k]
    return out


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------


def generate(seed: int, out: str, kinds: tuple[str, ...], sizes: dict = SIZES) -> dict:
    """Write every table ``kinds`` names into ``out``; returns (and writes)
    the truth record."""
    os.makedirs(out, exist_ok=True)
    truth: dict = {"seed": seed}
    if "glue" in kinds:
        truth["glue"] = gen_glue(seed, out, sizes["glue"]["train"], sizes["glue"]["dev"])
    if "requests" in kinds:
        truth["requests"] = gen_glue(seed, os.path.join(out, "requests"), sizes["requests"]["train"], 0, ("sst2",))
    if "docs" in kinds:
        truth["docs"] = gen_documents(seed, out, sizes["docs"]["docs"])
    if "vecs" in kinds:
        truth["vecs"] = gen_embeddings(seed, out, sizes["vecs"]["vectors"])
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    generate(args.seed, args.out, KINDS)


if __name__ == "__main__":
    main()
