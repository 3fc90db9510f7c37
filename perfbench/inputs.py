"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (shape, seed): numpy draws in one
process, written as parquet with pyarrow. The program under test only
ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import string
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# BRCA PAM50 subtypes in roughly their TCGA proportions.
SUBTYPES = ("LumA", "LumB", "Basal", "Her2", "Normal")
SUBTYPE_SHARES = (0.45, 0.20, 0.17, 0.10, 0.08)
SIGNAL_GENES = 12  # genes per subtype block
SIGNAL_FOLD = 3.0  # multiplicative effect inside a subtype's own block

N_SOURCES = 20
STOPWORDS = ("the", "a", "of", "and", "to")  # llm.text LANG_PROFILES["en"]


def gene_id(j: int) -> str:
    return f"g{j:05d}"


def expression_matrix(n: int, f: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """BRCA-shaped dense negative-binomial counts ``(n, f)`` plus the
    subtype index of every sample.

    Each subtype raises its own block of high-mean genes, so the signal
    survives per-sample upper-quartile scaling (a composition change,
    not a library-size change) and the q25 mean/variance gene filter
    (block genes sit in the top half of both statistics)."""
    rng = np.random.default_rng(seed % 2**63)
    y = rng.choice(len(SUBTYPES), size=n, p=SUBTYPE_SHARES)
    base = rng.lognormal(mean=3.0, sigma=1.2, size=f)
    top = np.argsort(-base)[: len(SUBTYPES) * SIGNAL_GENES]
    effect = np.ones((len(SUBTYPES), f))
    for c in range(len(SUBTYPES)):
        effect[c, top[c * SIGNAL_GENES : (c + 1) * SIGNAL_GENES]] = SIGNAL_FOLD
    library = rng.lognormal(mean=0.0, sigma=0.25, size=n)
    mu = library[:, None] * base[None, :] * effect[y]
    dispersion = 5.0
    counts = rng.negative_binomial(dispersion, dispersion / (dispersion + mu))
    return counts.astype(np.float64), y


def write_expression(out: Path, n: int, f: int, seed: int) -> dict[str, Path]:
    """Long-form ``(sample_id, gene_id, value)`` matrix and the
    ``(sample_id, label)`` subtype table, as parquet under ``out``."""
    x, y = expression_matrix(n, f, seed)
    genes = np.array([gene_id(j) for j in range(f)], dtype=object)
    gexp = pa.table(
        {
            "sample_id": np.repeat(np.arange(n, dtype=np.int64), f),
            "gene_id": np.tile(genes, n),
            "value": x.ravel(),
        }
    )
    labels = pa.table(
        {
            "sample_id": np.arange(n, dtype=np.int64),
            "label": np.array(SUBTYPES, dtype=object)[y],
        }
    )
    paths = {"gexp": out / "gexp.parquet", "labels": out / "labels.parquet"}
    pq.write_table(gexp, paths["gexp"])
    pq.write_table(labels, paths["labels"])
    return paths


def _words(rng: np.random.Generator, k: int, lo: int, hi: int, prefix: str = "") -> list[str]:
    """``k`` distinct lowercase pseudo-words of ``lo..hi`` letters."""
    letters = np.array(list(string.ascii_lowercase))
    out: dict[str, None] = {}
    while len(out) < k:
        w = prefix + "".join(rng.choice(letters, size=int(rng.integers(lo, hi + 1))))
        if w not in STOPWORDS:
            out[w] = None
    return list(out)


class _Chain:
    """A sparse first-order Markov chain over a vocabulary: every word
    has four successors, so its text scores a high bigram-LM
    log-probability (the fluency gate keeps it)."""

    def __init__(self, rng: np.random.Generator, vocab: list[str]) -> None:
        self.rng = rng
        self.vocab = vocab
        self.next = rng.integers(0, len(vocab), size=(len(vocab), 4))
        self.p = np.array([0.55, 0.25, 0.12, 0.08])

    def text(self, n_tokens: int) -> list[str]:
        i = int(self.rng.integers(len(self.vocab)))
        picks = self.rng.choice(4, size=n_tokens, p=self.p)
        out = []
        for k in picks:
            out.append(self.vocab[i])
            i = int(self.next[i, k])
        return out


# Share of the training documents of each kind; eval documents are
# every doc_id % 20 == 0 (the curation plan's own hold-out rule).
DOC_KINDS = (
    ("fluent", 0.58),
    ("exact_dup", 0.08),
    ("pii_variant", 0.08),
    ("repetitive", 0.06),
    ("junk", 0.06),
    ("gibberish", 0.08),
    ("eval_overlap", 0.06),
)


def corpus(n_docs: int, seed: int) -> dict[str, list]:
    """~``n_docs`` synthetic documents over 20 sources with planted
    exact duplicates, PII variants (duplicates once PII is masked),
    repetitive documents, low-quality junk, disfluent gibberish and
    documents that copy a span of an eval document. Each kind is
    built to fall at a different gate of ``curate_documents_max``."""
    rng = np.random.default_rng(seed % 2**63)
    train_chain = _Chain(rng, _words(rng, 300, 2, 8) + list(STOPWORDS) * 6)
    eval_chain = _Chain(rng, _words(rng, 200, 3, 8, prefix="q"))
    gib_vocab = _words(rng, 150, 3, 7, prefix="z")
    source_p = 1.0 / np.arange(1, N_SOURCES + 1)
    sources = rng.choice(N_SOURCES, size=n_docs, p=source_p / source_p.sum())
    kinds = rng.choice(len(DOC_KINDS), size=n_docs, p=[p for _, p in DOC_KINDS])

    texts: list[str] = []
    fluent_ids: list[int] = []
    eval_texts: list[list[str]] = []
    for doc_id in range(n_docs):
        length = int(rng.integers(20, 60))
        if doc_id % 20 == 0:
            toks = eval_chain.text(length)
            eval_texts.append(toks)
            texts.append(" ".join(toks))
            continue
        kind = DOC_KINDS[kinds[doc_id]][0]
        if kind in ("exact_dup", "pii_variant") and not fluent_ids:
            kind = "fluent"
        if kind == "fluent":
            texts.append(" ".join(train_chain.text(length)))
            fluent_ids.append(doc_id)
        elif kind == "exact_dup":
            texts.append(texts[fluent_ids[int(rng.integers(len(fluent_ids)))]])
        elif kind == "pii_variant":
            # the same masked text every time: the first copy survives
            # dedup on the scrubbed text, later ones are duplicates
            user = "".join(rng.choice(list(string.ascii_lowercase), size=6))
            phone = "-".join(str(int(rng.integers(10**k, 10 ** (k + 1)))) for k in (2, 2, 3))
            stem = texts[fluent_ids[int(rng.integers(min(len(fluent_ids), 25)))]]
            texts.append(f"{stem} contact {user}@example.com or {phone}")
        elif kind == "repetitive":
            phrase = train_chain.text(4)
            texts.append(" ".join(phrase * (length // 4 + 2)))
        elif kind == "junk":
            texts.append(" ".join(_words(rng, length, 14, 20)))
        elif kind == "gibberish":
            toks = list(rng.choice(gib_vocab, size=length))
            toks[:: 9] = ["the"] * len(toks[:: 9])
            texts.append(" ".join(toks))
        else:  # eval_overlap: a fluent doc carrying a 6-token eval span
            src = eval_texts[int(rng.integers(len(eval_texts)))]
            at = int(rng.integers(0, len(src) - 6))
            body = train_chain.text(length)
            cut = int(rng.integers(1, length - 1))
            texts.append(" ".join(body[:cut] + src[at : at + 6] + body[cut:]))
    return {
        "doc_id": list(range(n_docs)),
        "source": [f"src{s}" for s in sources],
        "text": texts,
    }


def write_corpus(out: Path, n_docs: int, seed: int) -> dict[str, Path]:
    docs = corpus(n_docs, seed)
    table = pa.table(
        {
            "doc_id": pa.array(docs["doc_id"], pa.int64()),
            "source": pa.array(docs["source"], pa.string()),
            "text": pa.array(docs["text"], pa.string()),
        }
    )
    path = out / "documents.parquet"
    pq.write_table(table, path)
    return {"documents": path}


def digest(paths: dict[str, Path]) -> str:
    """sha256 over the decoded tables (not the parquet bytes, which
    carry writer metadata)."""
    h = hashlib.sha256()
    for name in sorted(paths):
        h.update(name.encode())
        table = pq.read_table(paths[name])
        for field, col in zip(table.schema, table.columns):
            h.update(field.name.encode())
            if pa.types.is_string(field.type):
                h.update("\0".join(col.to_pylist()).encode())
            else:
                h.update(col.to_numpy().tobytes())
    return h.hexdigest()
