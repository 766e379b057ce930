"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``(seed, size)``:

* :func:`gen_corpus` writes plain-text "books" for the Word2Vec job: a
  Zipf-distributed pseudo-word vocabulary, prose-length lines with
  capitals, punctuation, hyphens and digit tokens (which the reference
  tokenizer drops), one file per book.
* :func:`gen_tables` writes the sf-style parquet directory that the
  catalog queries read (``region`` .. ``embeddings``), following the
  distributions measured for ``tools/gen_scale.py`` but seeded from
  the ``seed`` argument and sized by ``sf``. Near-duplicate and exact
  duplicate documents are planted as in that generator.

Each generator returns its ground truth: row counts, the exact word
counts of the corpus and the planted duplicate pairs.
"""

from __future__ import annotations

import re
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Same vocabularies and shares as tools/gen_scale.py.
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000

NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016

_SYLLABLES = (
    "ba be bi bo bu ca ce co da de di do du fa fe fi fo ga ge go ha he hi ho "
    "ka ke ki ko la le li lo lu ma me mi mo mu na ne ni no nu pa pe pi po ra "
    "re ri ro ru sa se si so su ta te ti to tu va ve vi vo wa we wi ya yo za "
    "ar en in on or er al an el ith ost und ver"
).split()

# The reference tokenizer (MapRedWord2Vec.scala:101-102): lowercase,
# split on ASCII \W+, keep all-letter tokens.
_SPLIT = re.compile(r"\W+", re.ASCII)


def reference_tokens(line: str) -> list[str]:
    return [t for t in _SPLIT.split(line.lower()) if t.isalpha() and t.isascii()]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def gen_corpus(out: Path, seed: int, n_tokens: int, n_books: int, vocab_size: int) -> dict:
    """Write ``n_books`` text files totalling about ``n_tokens`` words.

    Word frequencies follow Zipf-Mandelbrot (s=1.07, q=2.7) over
    ``vocab_size`` pseudo-words. Lines hold 4-24 words; ~3% of tokens
    are digit tokens ("1847", "3rd", "x86") and ~1% are hyphenated
    pairs, so the tokenizer's filter and splitting both do work.
    """
    rng = _rng(seed, 100)
    out.mkdir(parents=True, exist_ok=True)
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < vocab_size:
        w = "".join(rng.choice(_SYLLABLES, int(rng.integers(1, 4))))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    ranks = np.arange(1, vocab_size + 1)
    p = 1.0 / (ranks + 2.7) ** 1.07
    p /= p.sum()
    words = np.array(vocab)[rng.choice(vocab_size, n_tokens, p=p)]
    kind = rng.random(n_tokens)
    digits = rng.integers(0, 3000, n_tokens)

    counts: Counter = Counter()
    lines_total = 0
    bytes_total = 0
    pos = 0
    per_book = n_tokens // n_books
    for b in range(n_books):
        end = n_tokens if b == n_books - 1 else pos + per_book
        lines = []
        while pos < end:
            n = min(int(rng.integers(4, 25)), end - pos)
            toks = []
            for i in range(pos, pos + n):
                w = str(words[i])
                k = kind[i]
                if k < 0.01:
                    toks.append(f"{w}-{words[(i + 7) % n_tokens]}")
                elif k < 0.02:
                    toks.append(str(digits[i]))
                elif k < 0.03:
                    toks.append(f"{digits[i] % 10}rd" if k < 0.025 else f"x{digits[i]}")
                elif k < 0.09:
                    toks.append(w + ",")
                else:
                    toks.append(w)
            toks[0] = toks[0].capitalize()
            line = " ".join(toks) + rng.choice([".", ".", ".", "?", "!", ";"])
            lines.append(line)
            counts.update(reference_tokens(line))
            pos += n
        text = "\n".join(lines) + "\n"
        (out / f"book_{b:03d}.txt").write_text(text)
        lines_total += len(lines)
        bytes_total += len(text)
    return {
        "lines": lines_total,
        "bytes": bytes_total,
        "tokens": sum(counts.values()),
        "word_counts": dict(counts),
    }


def _ts_days(rng, n, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, type=pa.timestamp("us"))


def _pairs(a: np.ndarray, b: np.ndarray) -> list[tuple[int, int]]:
    return sorted({(int(min(x, y)), int(max(x, y))) for x, y in zip(a, b) if x != y})


def gen_tables(out: Path, seed: int, sf: float, n_docs: int, n_emb: int) -> dict:
    """Write the ten sf-style tables; ``documents`` and ``embeddings``
    are sized separately from the relational tables. Returns rows and
    bytes per table and the planted duplicate document pairs."""
    out.mkdir(parents=True, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_evt = max(10, int(1_000_000 * sf))
    n_user = max(5, int(15_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    rng = _rng(seed, 1)
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })

    rng = _rng(seed, 2)
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })

    rng = _rng(seed, 3)
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJS)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUNS)[rng.integers(0, 8, n_part)]
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })

    rng = _rng(seed, 4)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts_days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    rng = _rng(seed, 5)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_days(rng, n_line, "1995-01-02", "2001-11-04"),
    })

    rng = _rng(seed, 6)
    lo = np.datetime64("2024-01-01", "us").astype(np.int64)
    hi = np.datetime64("2024-01-31", "us").astype(np.int64)
    tables["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.sort(rng.integers(lo, hi, n_evt)), type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)],
    })

    # Documents: base docs, near-duplicates (each word replaced by the
    # 'dup' token w.p. 1/54) and exact copies, shuffled into doc ids.
    rng = _rng(seed, 7)
    n_near = int(round(n_docs * NEAR_DUP_SHARE))
    n_exact = max(1, int(round(n_docs * EXACT_DUP_SHARE)))
    n_base = n_docs - n_near - n_exact
    vocab = np.array(DOC_VOCAB)
    docs = [vocab[rng.integers(0, len(vocab), ln)].tolist() for ln in rng.integers(10, 101, n_base)]
    near_src = rng.integers(0, n_base, n_near)
    for i in near_src:
        mask = rng.random(len(docs[i])) < (1.0 / 54.0)
        docs.append(["dup" if m else w for w, m in zip(docs[i], mask)])
    exact_src = rng.integers(0, n_base, n_exact)
    docs.extend(list(docs[i]) for i in exact_src)
    order = rng.permutation(n_docs)  # order[new_id] = generation index
    doc_id_of = np.empty(n_docs, dtype=np.int64)
    doc_id_of[order] = np.arange(n_docs)
    texts = [" ".join(docs[i]) for i in order]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    near_pairs = _pairs(doc_id_of[near_src], doc_id_of[n_base + np.arange(n_near)])
    exact_pairs = _pairs(doc_id_of[exact_src], doc_id_of[n_base + n_near + np.arange(n_exact)])

    # Embeddings: unit vectors around 10 label centroids.
    rng = _rng(seed, 8)
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(scale=0.6, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })

    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
    return {
        "rows": {name: t.num_rows for name, t in tables.items()},
        "bytes": {name: (out / f"{name}.parquet").stat().st_size for name in tables},
        "near_dup_doc_pairs": near_pairs,
        "exact_dup_doc_pairs": exact_pairs,
    }
