"""Seeded input generator for the sketch benchmark, with an exact-answer sidecar.

Every table is a pure function of (GEN_VERSION, input set, seed, size).  The
on-disk cache directory is named after all four (the size by its row counts),
and a ``_COMPLETE`` marker is written last, so a stale or half-written input
set is never reused: bump GEN_VERSION whenever this file changes what it
writes for the same sizes.

Input sets (each workload reads one):
  tokens  ``tokens.parquet`` (doc_id string, tokens array<int32>, n_tok int32,
          source string) — Zipf(1.1) token ids over a 50,257 vocabulary, 8
          skewed sources.
  keys    ``keys.parquet`` (doc_id string) and ``changelog.parquet``
          (doc_id string, sign int32): every key inserted once, a seeded
          quarter retracted, rows shuffled.
  docs    ``train.parquet`` / ``eval.parquet`` (doc_id long, text string) with
          planted exact-duplicate and near-duplicate families, and train docs
          that quote a span of an eval doc.

The sidecar ``expected.json`` (+ ``hist.npz`` for the token set) holds the
exact answers the output checks compare against: distinct counts (global and
per source), token and length histograms, exact quantiles, top-k frequencies,
the live key set, planted duplicate pairs with their exact Jaccard, and the
per-doc contamination counts.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3

VOCAB = 50_257
ZIPF_S = 1.1
SOURCES = [f"src_{i:02d}" for i in range(8)]
SOURCE_WEIGHTS = [0.45, 0.25, 0.12, 0.08, 0.05, 0.03, 0.015, 0.005]
ABSENT_LO = 1 << 20          # every absent probe is ≥ this; tokens are < VOCAB
QUANTILE_QS = [i / 100 for i in range(1, 100)]
NGRAM = 3                    # word n-gram width the dedup operators shingle with

# rows per input set; "tiny" is the self-test scale
SIZES = {
    "bench": {"token_docs": 250_000, "token_max_len": 256, "row_groups": 8,
              "keys": 100_000, "train_docs": 600, "eval_docs": 30},
    "tiny": {"token_docs": 1_200, "token_max_len": 64, "row_groups": 4,
             "keys": 5_000, "train_docs": 240, "eval_docs": 24},
}

INPUT_SET = {"token_build": "tokens", "doc_key_state": "keys", "doc_dedup": "docs"}


def cache_key(input_set: str, seed: int, size: str) -> str:
    """Names the generator version, input set, seed and the size's row counts
    (not only its name), so changing any of them never reuses stale inputs."""
    shape = zlib.crc32(json.dumps(SIZES[size], sort_keys=True).encode())
    return f"v{GEN_VERSION}-{input_set}-seed{seed}-{size}-{shape:08x}"


def ensure_inputs(root: str, workload: str, seed: int, size: str) -> str:
    """Directory holding the workload's inputs and sidecar, generating it
    on first use.  Returns the directory path."""
    input_set = INPUT_SET[workload]
    out = os.path.join(root, cache_key(input_set, seed, size))
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cfg = SIZES[size]
    rng = np.random.default_rng([GEN_VERSION, seed, hash_name(input_set)])
    expected = {"gen_version": GEN_VERSION, "seed": seed, "size": size}
    if input_set == "tokens":
        expected.update(_gen_tokens(tmp, rng, cfg))
    elif input_set == "keys":
        expected.update(_gen_keys(tmp, rng, cfg, seed))
    else:
        expected.update(_gen_docs(tmp, rng, cfg))
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write(cache_key(input_set, seed, size))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def hash_name(name: str) -> int:
    """Stable small integer from a name (``hash()`` is salted per process)."""
    return int.from_bytes(name.encode()[:8].ljust(8, b"\0"), "little")


def _write(path: str, table: pa.Table, row_groups: int = 1) -> None:
    rows = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rows)


# -- tokens -----------------------------------------------------------------

def _gen_tokens(out: str, rng: np.random.Generator, cfg: dict) -> dict:
    n_docs = cfg["token_docs"]
    lengths = rng.integers(1, cfg["token_max_len"] + 1, n_docs).astype(np.int32)
    total = int(lengths.sum())
    tokens = _zipf_tokens(rng, total)
    src = rng.choice(len(SOURCES), n_docs, p=SOURCE_WEIGHTS)
    offsets = np.zeros(n_docs + 1, np.int32)
    np.cumsum(lengths, out=offsets[1:])
    table = pa.table({
        "doc_id": pa.array([f"doc_{i:08d}" for i in range(n_docs)]),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
        "n_tok": pa.array(lengths),
        "source": pa.array([SOURCES[i] for i in src]),
    })
    _write(os.path.join(out, "tokens.parquet"), table, cfg["row_groups"])

    hist = np.bincount(tokens, minlength=VOCAB)
    present = np.flatnonzero(hist)
    # distinct tokens per source: nonzero cells of a (source, token) histogram
    by_src = np.bincount(np.repeat(src, lengths) * VOCAB + tokens,
                         minlength=len(SOURCES) * VOCAB).reshape(len(SOURCES), VOCAB)
    by_source = {name: int(np.count_nonzero(by_src[i]))
                 for i, name in enumerate(SOURCES)}

    ntok_hist = np.bincount(lengths, minlength=cfg["token_max_len"] + 1)
    np.savez(os.path.join(out, "hist.npz"), tokens=hist, n_tok=ntok_hist)
    top = np.argsort(-hist, kind="stable")[:50]
    rand = rng.choice(present, 50, replace=False)
    cms_q = np.unique(np.concatenate([top, rand]))
    return {
        "n_docs": n_docs,
        "n_tokens": total,
        "distinct_global": int(present.size),
        "distinct_by_source": by_source,
        "cms_queries": [[int(t), int(hist[t])] for t in cms_q],
        "top_k": [[int(t), int(hist[t])] for t in top[:10]],
        "token_quantiles": _exact_quantiles(hist),
        "n_tok_quantiles": _exact_quantiles(ntok_hist),
    }


def _zipf_tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    """``min(Zipf(ZIPF_S) - 1, VOCAB - 1)`` by inverse CDF over the finite
    vocabulary; the last id carries the whole tail mass P(Z >= VOCAB),
    summed by Euler-Maclaurin.  A guide table over 2^18 equal slices of
    [0, 1) answers every draw whose slice lies inside one id's interval, and
    only the rest (about 10 %) are binary-searched: 4x faster than
    ``rng.zipf``, and the same ids a plain binary search gives."""
    w = np.arange(1, VOCAB, dtype=np.float64) ** -ZIPF_S
    tail = (VOCAB ** (1 - ZIPF_S) / (ZIPF_S - 1) + VOCAB ** -ZIPF_S / 2
            + ZIPF_S * VOCAB ** (-ZIPF_S - 1) / 12)
    cdf = np.cumsum(np.append(w, tail))
    cdf /= cdf[-1]
    slices = 1 << 18
    edges = np.searchsorted(cdf, np.arange(slices + 1) / slices,
                            side="right").astype(np.int32)
    exact = edges[:-1] == edges[1:]
    u = rng.random(n)
    s = (u * slices).astype(np.intp)
    tokens = edges[s]
    split = np.flatnonzero(~exact[s])
    tokens[split] = np.searchsorted(cdf, u[split], side="right")
    return tokens


def _exact_quantiles(hist: np.ndarray) -> list[int]:
    """Lower exact quantile (smallest value v with CDF(v) ≥ q) per QUANTILE_QS."""
    cdf = np.cumsum(hist) / hist.sum()
    return [int(np.searchsorted(cdf, q, side="left")) for q in QUANTILE_QS]


def absent_fpr_probes(seed: int, n: int) -> np.ndarray:
    """A large seeded set of int32 keys guaranteed absent from the token table
    (all ≥ ABSENT_LO > VOCAB), for the driver-side FPR measurement."""
    rng = np.random.default_rng([GEN_VERSION, seed, hash_name("fpr")])
    return rng.integers(ABSENT_LO, 1 << 31, n, dtype=np.int64).astype(np.int32)


# -- string keys and changelog ------------------------------------------------

def _gen_keys(out: str, rng: np.random.Generator, cfg: dict, seed: int) -> dict:
    n = cfg["keys"]
    # an odd multiplier modulo 2^48 is a bijection: distinct ids, seeded order
    mult = int(rng.integers(1, 1 << 47)) * 2 + 1
    ids = (np.arange(n, dtype=np.uint64) * np.uint64(mult)
           + np.uint64(seed)) & np.uint64((1 << 48) - 1)
    keys = np.array([f"doc_{x:012x}" for x in ids.tolist()], dtype=object)
    _write(os.path.join(out, "keys.parquet"),
           pa.table({"doc_id": pa.array(keys, pa.string())}), 8)
    deleted = rng.random(n) < 0.25
    log_keys = np.concatenate([keys, keys[deleted]])
    signs = np.concatenate([np.ones(n, np.int32),
                            -np.ones(int(deleted.sum()), np.int32)])
    # inserts precede their retractions in the file, but rows are shuffled
    # within each half so partitions see interleaved keys
    order = np.concatenate([rng.permutation(n), n + rng.permutation(int(deleted.sum()))])
    _write(os.path.join(out, "changelog.parquet"),
           pa.table({"doc_id": pa.array(log_keys[order], pa.string()),
                     "sign": pa.array(signs[order])}), 8)
    _write(os.path.join(out, "live_keys.parquet"),
           pa.table({"doc_id": pa.array(keys[~deleted], pa.string())}))
    _write(os.path.join(out, "deleted_keys.parquet"),
           pa.table({"doc_id": pa.array(keys[deleted], pa.string())}))
    return {"n_keys": n, "n_deleted": int(deleted.sum()),
            "n_live": int((~deleted).sum()), "n_changelog_rows": int(len(signs))}


# -- documents ----------------------------------------------------------------

WORD_VOCAB = 40_000


def _words(rng: np.random.Generator, n: int) -> list[str]:
    ids = np.minimum(rng.zipf(1.2, n) - 1 + rng.integers(0, 64, n), WORD_VOCAB - 1)
    return [f"w{i}" for i in ids.tolist()]


def _mutate(rng: np.random.Generator, words: list[str], rate: float) -> list[str]:
    out = list(words)
    for i in np.flatnonzero(rng.random(len(out)) < rate).tolist():
        out[i] = _words(rng, 1)[0]
    return out


def shingles(text: str) -> set[str]:
    """Distinct word n-grams of a single-space-separated text."""
    w = text.split(" ")
    return {" ".join(w[i:i + NGRAM]) for i in range(len(w) - NGRAM + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def _gen_docs(out: str, rng: np.random.Generator, cfg: dict) -> dict:
    n_train, n_eval = cfg["train_docs"], cfg["eval_docs"]
    eval_texts = [_words(rng, int(rng.integers(40, 120))) for _ in range(n_eval)]
    texts: list[list[str]] = []
    families: list[list[int]] = []
    # three in ten base texts start a family of 2-4 members, each an exact
    # copy or a light (1-4 %) or heavy (35 %) word mutation of the base
    while len(texts) < n_train:
        base = _words(rng, int(rng.integers(40, 160)))
        if rng.random() < 0.3 and len(texts) + 4 < n_train:
            fam = [len(texts)]
            texts.append(base)
            for _ in range(int(rng.integers(1, 4))):
                kind = rng.choice(3)
                rate = (0.0, float(rng.uniform(0.01, 0.04)), 0.35)[kind]
                fam.append(len(texts))
                texts.append(_mutate(rng, base, rate) if rate else list(base))
            families.append(fam)
        else:
            texts.append(base)
    # contamination: ~5 % of train docs quote 6-12 consecutive words of an
    # eval doc at a random position
    for i in rng.choice(n_train, max(1, n_train // 20), replace=False).tolist():
        src = eval_texts[int(rng.integers(n_eval))]
        span = int(rng.integers(6, 13))
        start = int(rng.integers(0, len(src) - span))
        at = int(rng.integers(0, len(texts[i]) + 1))
        texts[i] = texts[i][:at] + src[start:start + span] + texts[i][at:]

    # doc ids: a seeded permutation so family members are not id-adjacent
    train_ids = rng.permutation(n_train).astype(np.int64) * 7 + 1
    eval_ids = np.arange(n_eval, dtype=np.int64) * 7 + 7 * n_train + 3
    train_str = [" ".join(t) for t in texts]
    eval_str = [" ".join(t) for t in eval_texts]
    _write(os.path.join(out, "train.parquet"),
           pa.table({"doc_id": pa.array(train_ids), "text": pa.array(train_str)}), 4)
    _write(os.path.join(out, "eval.parquet"),
           pa.table({"doc_id": pa.array(eval_ids), "text": pa.array(eval_str)}))

    sh = [shingles(t) for t in train_str]
    pairs, exact_pairs = [], []
    for fam in families:
        for x in range(len(fam)):
            for y in range(x + 1, len(fam)):
                i, j = fam[x], fam[y]
                a, b = sorted((int(train_ids[i]), int(train_ids[j])))
                jac = _jaccard(sh[i], sh[j])
                if train_str[i] == train_str[j]:
                    exact_pairs.append([a, b])
                if jac >= 0.5:
                    pairs.append([a, b, jac])
    ev = set().union(*(shingles(t) for t in eval_str))
    n_grams = [len(s) for s in sh]
    n_cont = [len(s & ev) for s in sh]
    return {
        "n_train": n_train, "n_eval": n_eval,
        "minhash_pairs": sorted(pairs),
        "exact_dup_pairs": sorted(exact_pairs),
        "n_grams_total": int(sum(n_grams)),
        "n_contaminated_total": int(sum(n_cont)),
        "contaminated_ids": sorted(int(train_ids[i]) for i, c in enumerate(n_cont) if c),
    }
