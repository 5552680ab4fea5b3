"""Seeded benchmark inputs, cached per (kind, seed, size).

Every input is a pure function of its seed and size, so the same seed
gives byte-identical tables. Generated tables are written under
``kgbench/.cache/`` (never under ``fixtures/``: the committed fixtures
feed the DuckDB oracle hashes). A cache entry is written to a temporary
directory and renamed into place, so an interrupted generation never
leaves a half-written entry behind.

Generation runs in a child process (:func:`ensure`), so the benchmark
process's peak RSS measures the run, not whether the cache was warm.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

#: seed reserved for re-checking a claim on inputs not used while the
#: change was written
HELD_OUT_SEED = 9001

#: vocabulary of the small-vocabulary word-bag documents the corpus
#: near-dup operators are exercised on (31 words, uniform draws)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

#: conversation ids of append batches start here, far above any base corpus
APPEND_CONV_BASE = 10_000_000


def _entry(kind: str, seed: int, size: str) -> str:
    return os.path.join(CACHE, f"{kind}-s{seed}-{size}")


def _write_transcripts(d: str, lo: int, n_turns: int, seed: int) -> int:
    """Conversations ``lo, lo+1, ...`` until the first at which the
    corpus reaches ``n_turns`` turns (generated ten at a time, cut at
    that conversation); returns the next unused conversation id.

    Sizing by turns, not conversations, keeps the work per operation
    nearly the same for every seed: a hot conversation has 40x the
    median turn count, so a fixed conversation count varies by ~10% in
    turns from seed to seed."""
    from kgforge import fixtures

    ts, gs, n = [], [], 0
    while n < n_turns:
        t, g, _ = fixtures.gen_transcripts_range(lo, lo + 10, seed=seed)
        per_conv = t.groupby("conv_id").size().sort_index()
        keep = per_conv.index[: int((per_conv.cumsum() < n_turns - n).sum()) + 1]
        ts.append(t[t["conv_id"].isin(keep)])
        gs.append(g[g["conv_id"].isin(keep)])
        n += int(per_conv[keep].sum())
        lo += len(keep)
    t = pd.concat(ts, ignore_index=True)
    t = t.iloc[np.random.default_rng(seed).permutation(len(t))].reset_index(drop=True)
    t.to_parquet(os.path.join(d, "transcripts.parquet"), index=False)
    pd.concat(gs, ignore_index=True).to_parquet(
        os.path.join(d, "golden_triples.parquet"), index=False
    )
    return lo


def _gen_corpus(d: str, seed: int, n_turns: int, n_batches: int, batch_turns: int) -> None:
    """Base transcript corpus + append batches + dictionaries."""
    from kgforge import fixtures

    fixtures.gazetteer().to_parquet(os.path.join(d, "gazetteer.parquet"), index=False)
    fixtures.patterns_df().to_parquet(os.path.join(d, "patterns.parquet"), index=False)
    base = os.path.join(d, "base")
    os.makedirs(base)
    _write_transcripts(base, 0, n_turns, seed)
    lo = APPEND_CONV_BASE
    for j in range(n_batches):
        bd = os.path.join(d, f"batch{j:03d}")
        os.makedirs(bd)
        lo = _write_transcripts(bd, lo, batch_turns, seed)


def gen_documents(seed: int, n_docs: int, dup_frac: float) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Word-bag documents modelled on the small-vocabulary test corpus
    (31 words drawn uniformly, 10..100 words per document) with a planted
    share of near-duplicates.

    A planted near-duplicate copies a source document of at least 30
    words and substitutes 1..3 random positions. It is kept only if its
    exact word-3-gram Jaccard with the source is >= 0.6, computed here,
    so every planted pair is a true pair at the 0.5 threshold.

    Returns ``(docs[doc_id, text], planted[a, b, jaccard])`` with a < b.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, size=n_docs)
    toks = [list(vocab[rng.integers(0, len(vocab), size=n)]) for n in lens]
    planted = []
    n_dup = int(n_docs * dup_frac)
    targets = rng.choice(np.arange(n_docs // 2, n_docs), size=n_dup, replace=False)
    for tgt in sorted(int(x) for x in targets):
        while True:
            src = int(rng.integers(0, n_docs // 2))
            if len(toks[src]) >= 30:
                break
        while True:
            copy = list(toks[src])
            for pos in rng.choice(len(copy), size=int(rng.integers(1, 4)), replace=False):
                copy[int(pos)] = str(vocab[rng.integers(0, len(vocab))])
            j = _trigram_jaccard(toks[src], copy)
            if j >= 0.6:
                break
        toks[tgt] = copy
        planted.append((src, tgt, j))
    docs = pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype="int64"), "text": [" ".join(t) for t in toks]}
    )
    return docs, pd.DataFrame(planted, columns=["a", "b", "jaccard"])


def _trigram_jaccard(x: list[str], y: list[str]) -> float:
    gx = {tuple(x[i:i + 3]) for i in range(len(x) - 2)}
    gy = {tuple(y[i:i + 3]) for i in range(len(y) - 2)}
    return len(gx & gy) / len(gx | gy)


def _gen_analytics(d: str, seed: int, n_ent: int, n_train: int, n_test: int,
                   n_docs: int, dup_frac: float) -> None:
    from kgforge import fixtures

    split = fixtures.gen_openke_split(
        n_ent=n_ent, n_rel=12, n_train=n_train, n_valid=0, n_test=n_test, seed=seed
    )
    split["train2id"].to_parquet(os.path.join(d, "train.parquet"), index=False)
    split["test2id"].to_parquet(os.path.join(d, "test.parquet"), index=False)
    docs, planted = gen_documents(seed, n_docs, dup_frac)
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    planted.to_parquet(os.path.join(d, "planted.parquet"), index=False)


_GENERATORS = {"corpus": _gen_corpus, "analytics": _gen_analytics}


def _generate(root: str, kind: str, seed: int, size: dict, tmp: str) -> None:
    sys.path.insert(0, root)
    os.makedirs(tmp)
    _GENERATORS[kind](tmp, seed, **size)


def ensure(root: str, kind: str, seed: int, size: dict) -> str:
    """Path of the cached input set, generating it first on a miss."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    d = _entry(kind, seed, tag)
    if os.path.isdir(d):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    cmd = [sys.executable, os.path.abspath(__file__), root, kind, str(seed), json.dumps(size), tmp]
    try:
        subprocess.run(cmd, check=True, timeout=300)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired):
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.replace(tmp, d)
    except OSError:  # a concurrent run generated the same entry first
        shutil.rmtree(tmp, ignore_errors=True)
    return d


if __name__ == "__main__":
    _generate(sys.argv[1], sys.argv[2], int(sys.argv[3]), json.loads(sys.argv[4]), sys.argv[5])
