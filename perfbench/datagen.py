"""Seeded input generation for the benchmark.

Every input the benchmark feeds the program is made here, inside the
benchmark's own data directory, and the program only ever receives
paths:

- ``star_schema``: the TPC-H-ish star schema the registry queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), with the column names, types and value
  ranges of the engine's reference tables. ``sf`` scales the row
  counts the way TPC-H does (lineitem = 6M x sf).
- ``dedup_dir``: the star schema plus a ``documents`` table grown from
  the base documents by seeded exact copies and near-copies that edit
  about 10% of their tokens.
- ``wordcount_files``: text files of alphabetic words drawn from a
  Zipf distribution; ``word_counts`` gives their exact word counts.

Each output directory is written once and reused: a ``.done`` marker
holding the generator's parameters is written last, so a crashed
generation is redone, never read half-written.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the fixed star schema; the workload seed only reorders ops
#: and generates the dedup copies and the word-count files.
BASE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "small", "red", "green",
            "bright", "dark", "light", "thin", "thick"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
EMB_DIM = 64

#: Dedup corpus shape: per base document, the chance of one exact copy
#: and of one near-copy, and the share of a near-copy's tokens edited.
EXACT_COPY_RATE = 0.10
NEAR_COPY_RATE = 0.10
NEAR_EDIT_FRAC = 0.10

#: Word-count corpus shape.
WC_FILES = 8
WC_WORDS_PER_FILE = 12_000
WC_VOCAB = 3_000
WC_ZIPF_A = 1.15
WC_WORDS_PER_LINE = 12

TOKEN_RE = re.compile(r"[^a-zA-Z]+")


def _done(path: str, params: dict) -> bool:
    try:
        with open(os.path.join(path, ".done")) as f:
            return json.load(f) == params
    except (OSError, ValueError):
        return False


def _begin(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _finish(path: str, params: dict) -> None:
    with open(os.path.join(path, ".done"), "w") as f:
        json.dump(params, f)


def _write(path: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    """Timestamps (µs, naive) at ``base`` + ``seconds``."""
    us = np.datetime64(base, "us").astype(np.int64) + (seconds * 1e6).astype(np.int64)
    return pa.array(us.astype("datetime64[us]"))


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(DOC_VOCAB), size=int(lens.sum()))
    vocab = np.array(DOC_VOCAB, dtype=object)
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(vocab[words[at:at + ln]]))
        at += ln
    # 5% of documents restate an earlier one with a trailing marker
    # token: the near-duplicates the reference corpus carries.
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def _documents(rng: np.random.Generator, n: int) -> dict:
    text = _doc_texts(rng, n)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }


def star_schema(root: str, sf: float) -> str:
    """Write (once) the star schema at scale ``sf``; return its dir."""
    path = os.path.join(root, f"tables_sf{sf:g}")
    params = {"kind": "star", "sf": sf, "seed": BASE_SEED}
    if _done(path, params):
        return path
    _begin(path)
    rng = np.random.default_rng(BASE_SEED)

    def n_of(base: int) -> int:
        return max(1, int(round(base * sf)))

    n_cust, n_supp, n_part = n_of(150_000), n_of(10_000), n_of(200_000)
    n_ord, n_line, n_ev = n_of(1_500_000), n_of(6_000_000), n_of(1_000_000)
    n_doc, n_emb = n_of(50_000), n_of(20_000)

    _write(path, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(path, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(path, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist()),
    })
    _write(path, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    _write(path, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
        ),
    })
    _write(path, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_ord) * 86400.0),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist()),
    })
    _write(path, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * 86400.0),
    })
    gaps = rng.exponential(30 * 86400.0 / n_ev, n_ev)
    _write(path, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(path, "documents", _documents(rng, n_doc))
    vec = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(path, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
    _finish(path, params)
    return path


def dedup_dir(root: str, base: str, seed: int) -> str:
    """The star schema at ``base`` with ``documents`` replaced by the
    base documents plus seeded exact copies and near-copies."""
    path = os.path.join(root, f"dedup_{os.path.basename(base)}_s{seed}")
    params = {
        "kind": "dedup", "base": os.path.abspath(base), "seed": seed,
        "exact": EXACT_COPY_RATE, "near": NEAR_COPY_RATE, "edit": NEAR_EDIT_FRAC,
    }
    if _done(path, params):
        return path
    _begin(path)
    for name in os.listdir(base):
        if name.endswith(".parquet") and name != "documents.parquet":
            os.symlink(os.path.join(os.path.abspath(base), name), os.path.join(path, name))
    docs = pq.read_table(os.path.join(base, "documents.parquet")).to_pydict()
    n = len(docs["doc_id"])
    rng = np.random.default_rng(seed)
    text, lang, source = list(docs["text"]), list(docs["lang"]), list(docs["source"])
    for i in np.flatnonzero(rng.random(n) < EXACT_COPY_RATE):
        text.append(text[i])
        lang.append(lang[i])
        source.append(source[i])
    for i in np.flatnonzero(rng.random(n) < NEAR_COPY_RATE):
        toks = text[i].split(" ")
        n_edit = max(1, int(round(len(toks) * NEAR_EDIT_FRAC)))
        for j in rng.choice(len(toks), size=n_edit, replace=False):
            toks[j] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
        text.append(" ".join(toks))
        lang.append(lang[i])
        source.append(source[i])
    _write(path, "documents", {
        "doc_id": pa.array(np.arange(len(text), dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    _finish(path, params)
    return path


def _wc_vocab(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < WC_VOCAB:
        w = "".join(rng.choice(letters, int(rng.integers(2, 11))))
        words.add(w.capitalize() if rng.random() < 0.1 else w)
    return sorted(words)


def wordcount_files(root: str, seed: int, n_files: int = WC_FILES,
                    words_per_file: int = WC_WORDS_PER_FILE) -> list[str]:
    """Write (once) the seeded text files; return their paths."""
    path = os.path.join(root, f"wordcount_s{seed}_{n_files}x{words_per_file}")
    params = {"kind": "wordcount", "seed": seed, "files": n_files,
              "words": words_per_file, "vocab": WC_VOCAB, "a": WC_ZIPF_A}
    names = [os.path.join(path, f"part{i:03d}.txt") for i in range(n_files)]
    if not _done(path, params):
        _begin(path)
        rng = np.random.default_rng(seed)
        vocab = np.array(_wc_vocab(rng), dtype=object)
        seps = np.array([" ", " ", " ", ", ", ". ", "; ", " - "], dtype=object)
        for name in names:
            ranks = rng.zipf(WC_ZIPF_A, words_per_file * 2)
            ranks = ranks[ranks <= len(vocab)][:words_per_file] - 1
            words = vocab[ranks]
            lines = []
            for at in range(0, len(words), WC_WORDS_PER_LINE):
                chunk = words[at:at + WC_WORDS_PER_LINE]
                sep = rng.choice(seps, len(chunk))
                lines.append("".join(w + s for w, s in zip(chunk, sep)).rstrip())
            with open(name, "w") as f:
                f.write("\n".join(lines) + "\n")
        _finish(path, params)
    return names


def word_counts(paths: list[str]) -> Counter:
    """Exact word counts of text files under the reference tokenizer:
    case-sensitive runs of ASCII letters."""
    counts: Counter = Counter()
    for name in paths:
        with open(name) as f:
            counts.update(t for t in TOKEN_RE.split(f.read()) if t)
    return counts


def table_sizes(path: str, names: list[str]) -> dict:
    """Rows and bytes of each named parquet table under ``path``."""
    out = {}
    for name in names:
        p = os.path.realpath(os.path.join(path, f"{name}.parquet"))
        out[name] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                     "bytes": os.path.getsize(p)}
    return out
