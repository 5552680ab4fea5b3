"""A11/A12/A13/A21 — TransE-family training (margin-ranking SGD) and
incremental batch training.

The reference trains with TensorFlowOnSpark parameter servers
(OpenKEonSpark ``distribute_training.py::main_fun`` + ``Config.py``,
recalled — SURVEY.md §0). That topology is replaced Spark-natively
(SURVEY.md §4): training is NOT on the parity-critical path (scoring/
eval use frozen embeddings), but the engine still ships a trainer so
fixture embeddings can be *produced*, not just synthesized:

* :func:`train` — exact single-process NumPy SGD (margin ranking loss,
  uniform/bern corruption, entity L2-normalization per epoch — the
  upstream OpenKE recipe).
* :func:`train_distributed` — data-parallel epochs: each partition runs
  the same NumPy SGD on its shard inside ``applyInPandas`` starting from
  the broadcast global parameters, then the driver averages shard deltas
  (synchronous parameter averaging — the Spark-native stand-in for the
  reference's async ps updates; same fixpoint family, deterministic).
* :func:`train_incremental` — A21: numbered snapshot dirs ``0/,1/,...``;
  warm-start from the previous increment's embeddings, Xavier-init rows
  for unseen entities/relations, re-evaluate per increment.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from . import kernels
from .sampling import splitmix64


def _xavier(rng: np.random.Generator, n: int, d: int) -> np.ndarray:
    bound = 6.0 / np.sqrt(d)
    return rng.uniform(-bound, bound, size=(n, d)).astype("float64")


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.maximum(n, 1e-12)


def _pack_keys(h, t, r, n_ent: int, n_rel: int) -> np.ndarray:
    """Injective (h, t, r) → uint64 packing (fixture-scale trainer only;
    callers guard n_ent^2 * n_rel < 2^63)."""
    return (
        h.astype(np.uint64) * np.uint64(n_ent) + t.astype(np.uint64)
    ) * np.uint64(n_rel) + r.astype(np.uint64)


def _corrupt(h, t, r, n_ent, seed, epoch, bern_p=None, known_keys=None, n_rel=0):
    """Counter-based corruption (same family as sampling.py — deterministic).

    With ``known_keys`` (sorted packed train triples), corruptions that
    form a known true triple — including the degenerate cand == original
    case, since the positive itself is known — are re-drawn at the next
    counter offset (the reference binary-searches its sorted triple
    store the same way, ``base/Corrupt.h``, recalled — SURVEY.md §0).
    False negatives would produce zero-margin gradients pulling a true
    triple apart.
    """
    base = (
        h.astype(np.uint64) * np.uint64(0x100000001B3)
        ^ t.astype(np.uint64) * np.uint64(0x1000193)
        ^ r.astype(np.uint64) * np.uint64(0x9E3779B1)
        # masked to 64 bits (as sampling._mix_base): a large seed would
        # otherwise overflow uint64; values below 2**64 are unchanged
        ^ np.uint64((seed * 2654435761 + epoch * 0x5DEECE66D) & 0xFFFFFFFFFFFFFFFF)
    )
    cand = (splitmix64(base) % np.uint64(n_ent)).astype(np.int64)
    if bern_p is None:
        corrupt_head = (splitmix64(base ^ np.uint64(0xABCDEF)) & np.uint64(1)).astype(bool)
    else:
        p = bern_p[r]
        u = (splitmix64(base ^ np.uint64(0xABCDEF)) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
        corrupt_head = u < p
    nh = np.where(corrupt_head, cand, h)
    nt = np.where(corrupt_head, t, cand)
    if known_keys is not None and len(known_keys):
        for attempt in range(1, 9):
            key = _pack_keys(nh, nt, r, n_ent, n_rel)
            pos = np.searchsorted(known_keys, key)
            pos_c = np.minimum(pos, len(known_keys) - 1)
            bad = known_keys[pos_c] == key
            if not bad.any():
                break
            base_a = splitmix64(
                base[bad] ^ np.uint64((attempt * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
            )
            cand_a = (base_a % np.uint64(n_ent)).astype(np.int64)
            nh[bad] = np.where(corrupt_head[bad], cand_a, h[bad])
            nt[bad] = np.where(corrupt_head[bad], t[bad], cand_a)
    return nh, nt


def _sparse_sgd(param: np.ndarray, rows: np.ndarray, grads: np.ndarray, lr: float) -> None:
    """Plain SGD scatter step; ``np.subtract.at`` accumulates duplicate
    row indices, so colliding batch rows sum their gradients."""
    np.subtract.at(param, rows, lr * grads)


class _OptState:
    """A12 optimizer state (Adagrad / Adam / Adadelta), sparse-applied:
    per batch, duplicate row gradients are pre-summed, then only touched
    rows update (TF's sparse apply — the reference trains its OpenKE
    models with ``Config.set_opt_method`` choosing among SGD/Adagrad/
    Adadelta/Adam, recalled — SURVEY.md §0)."""

    def __init__(self, shape: tuple[int, int], method: str):
        self.method = method
        if method == "adagrad":
            self.G = np.zeros(shape)
        elif method == "adam":
            self.m = np.zeros(shape)
            self.v = np.zeros(shape)
        elif method == "adadelta":
            self.Eg = np.zeros(shape)
            self.Ex = np.zeros(shape)
        elif method != "sgd":
            raise ValueError(f"unknown opt_method {method!r}")

    def apply(self, param: np.ndarray, rows: np.ndarray, grads: np.ndarray,
              lr: float, t_step: int) -> None:
        uniq, inv = np.unique(rows, return_inverse=True)
        g = np.zeros((len(uniq), param.shape[1]))
        np.add.at(g, inv, grads)
        eps = 1e-8
        if self.method == "adagrad":
            self.G[uniq] += g * g
            param[uniq] -= lr * g / (np.sqrt(self.G[uniq]) + eps)
        elif self.method == "adam":
            b1, b2 = 0.9, 0.999
            self.m[uniq] = b1 * self.m[uniq] + (1 - b1) * g
            self.v[uniq] = b2 * self.v[uniq] + (1 - b2) * g * g
            mh = self.m[uniq] / (1 - b1 ** t_step)
            vh = self.v[uniq] / (1 - b2 ** t_step)
            param[uniq] -= lr * mh / (np.sqrt(vh) + eps)
        elif self.method == "adadelta":
            rho, eps_d = 0.95, 1e-6
            self.Eg[uniq] = rho * self.Eg[uniq] + (1 - rho) * g * g
            dx = -np.sqrt(self.Ex[uniq] + eps_d) / np.sqrt(self.Eg[uniq] + eps_d) * g
            self.Ex[uniq] = rho * self.Ex[uniq] + (1 - rho) * dx * dx
            param[uniq] += dx


def sgd_epochs(
    triples: pd.DataFrame,
    ent: np.ndarray,
    rel: np.ndarray,
    epochs: int,
    lr: float,
    margin: float,
    seed: int,
    norm: int = 1,
    bern_p: np.ndarray | None = None,
    batch_size: int = 1024,
    epoch_offset: int = 0,
    opt_method: str = "sgd",
    model: str = "transe",
) -> tuple[np.ndarray, np.ndarray]:
    """In-place-free margin-ranking epochs; returns updated (ent, rel).

    ``opt_method``: ``sgd`` (default, the upstream recipe) or
    ``adagrad`` / ``adam`` / ``adadelta`` (A12 — reference
    ``Config.set_opt_method``). Non-SGD state is local to this call
    (resets across early-stop chunks, like restarting the optimizer).

    ``model``: ``transe`` (the reference recipe, byte-identical update
    path to previous rounds) or ``distmult`` — the bilinear-diagonal
    kernel under the same margin loss and negative sampler; its
    gradients are the obvious products (``∂s/∂h = −r∘t`` etc., score
    negated per kernels.distmult). The per-epoch entity row
    normalization is kept for both (OpenKE's TransE recipe; for
    DistMult it doubles as the usual norm regularizer).
    """
    ent = ent.copy()
    rel = rel.copy()
    h_all = triples["h"].to_numpy(np.int64)
    t_all = triples["t"].to_numpy(np.int64)
    r_all = triples["r"].to_numpy(np.int64)
    n = len(h_all)
    n_ent = ent.shape[0]
    n_rel_pack = int(r_all.max()) + 1 if n else 1
    known_keys = None
    if n and float(n_ent) * n_ent * n_rel_pack < 2**63:
        known_keys = np.sort(_pack_keys(h_all, t_all, r_all, n_ent, n_rel_pack))
    opt_e = _OptState(ent.shape, opt_method) if opt_method != "sgd" else None
    opt_r = _OptState(rel.shape, opt_method) if opt_method != "sgd" else None
    t_step = 0
    for ep in range(epoch_offset, epoch_offset + epochs):
        ent = _normalize_rows(ent)  # upstream OpenKE normalizes entities per epoch
        order = np.random.default_rng(seed * 7919 + ep).permutation(n)
        for lo in range(0, n, batch_size):
            idx = order[lo:lo + batch_size]
            h, t, r = h_all[idx], t_all[idx], r_all[idx]
            nh, nt = _corrupt(h, t, r, n_ent, seed, ep, bern_p, known_keys, n_rel_pack)
            H, T, R = ent[h], ent[t], rel[r]
            NH, NT = ent[nh], ent[nt]
            if model == "distmult":
                # separate branch so the transe float-accumulation
                # order below stays byte-identical to prior rounds
                sp = -(H * R * T).sum(1)
                sn = -(NH * R * NT).sum(1)
                active = (margin + sp - sn) > 0
                if not active.any():
                    continue
                t_step += 1
                a = active
                gph, gpt, gpr = -(R * T)[a], -(H * R)[a], -(H * T)[a]
                gnh, gnt, gnr = -(R * NT)[a], -(NH * R)[a], -(NH * NT)[a]
                ent_rows = np.concatenate([h[a], t[a], nh[a], nt[a]])
                ent_grads = np.concatenate([gph, gpt, -gnh, -gnt])
                if opt_e is None:
                    _sparse_sgd(ent, ent_rows, ent_grads, lr)
                    _sparse_sgd(rel, r[a], gpr - gnr, lr)
                else:
                    opt_e.apply(ent, ent_rows, ent_grads, lr, t_step)
                    opt_r.apply(rel, r[a], gpr - gnr, lr, t_step)
                continue
            dp = H + R - T
            dn = NH + R - NT
            if norm == 1:
                sp = np.abs(dp).sum(1)
                sn = np.abs(dn).sum(1)
                gp = np.sign(dp)
                gn = np.sign(dn)
            else:
                sp = np.sqrt((dp * dp).sum(1))
                sn = np.sqrt((dn * dn).sum(1))
                gp = dp / np.maximum(sp, 1e-12)[:, None]
                gn = dn / np.maximum(sn, 1e-12)[:, None]
            active = (margin + sp - sn) > 0
            if not active.any():
                continue
            t_step += 1
            if opt_e is None:
                gp = gp[active] * lr
                gn = gn[active] * lr
                np.subtract.at(ent, h[active], gp)      # d loss / d h = +gp
                np.add.at(ent, t[active], gp)           # d loss / d t = -gp
                np.subtract.at(rel, r[active], gp - gn)
                np.add.at(ent, nh[active], gn)
                np.subtract.at(ent, nt[active], gn)
            else:
                gp_a, gn_a = gp[active], gn[active]
                ent_rows = np.concatenate([h[active], t[active], nh[active], nt[active]])
                ent_grads = np.concatenate([gp_a, -gp_a, -gn_a, gn_a])
                opt_e.apply(ent, ent_rows, ent_grads, lr, t_step)
                opt_r.apply(rel, r[active], gp_a - gn_a, lr, t_step)
    return ent, rel


def valid_mrr(ent: np.ndarray, rel: np.ndarray, valid: pd.DataFrame, norm: int = 1) -> float:
    """Raw tail-MRR on a validation split (vectorized; early-stop metric)."""
    h = ent[valid["h"].to_numpy(np.int64)]
    r = rel[valid["r"].to_numpy(np.int64)]
    t_idx = valid["t"].to_numpy(np.int64)
    pred = h + r  # [B, d]
    diff = pred[:, None, :] - ent[None, :, :]  # [B, |E|, d]
    scores = np.abs(diff).sum(-1) if norm == 1 else np.sqrt((diff * diff).sum(-1))
    true_s = scores[np.arange(len(valid)), t_idx]
    ranks = 1 + (scores < true_s[:, None]).sum(1)
    return float((1.0 / ranks).mean())


def train(
    train_triples: pd.DataFrame,
    n_ent: int,
    n_rel: int,
    dim: int = 16,
    epochs: int = 50,
    lr: float = 0.05,
    margin: float = 1.0,
    norm: int = 1,
    bern: bool = False,
    seed: int = 42,
    valid_triples: pd.DataFrame | None = None,
    eval_every: int = 10,
    patience: int = 3,
    opt_method: str = "sgd",
) -> dict[str, np.ndarray]:
    """A11/A12 (+A14): single-process reference trainer.

    With ``valid_triples``, evaluates valid MRR every ``eval_every``
    epochs and early-stops after ``patience`` non-improving evals,
    returning the best snapshot (the reference's early-stop/best-
    checkpoint behavior, OpenKEonSpark ``distribute_training.py``,
    recalled — SURVEY.md §0). Returns {'ent','rel'}.
    """
    rng = np.random.default_rng(seed)
    ent = _xavier(rng, n_ent, dim)
    rel = _normalize_rows(_xavier(rng, n_rel, dim))
    bern_p = None
    if bern:
        g = train_triples.groupby("r")
        tph = g.apply(lambda x: x.groupby("h")["t"].nunique().mean(), include_groups=False)
        hpt = g.apply(lambda x: x.groupby("t")["h"].nunique().mean(), include_groups=False)
        bern_p = np.full(n_rel, 0.5)
        for r in tph.index:
            bern_p[int(r)] = tph[r] / (tph[r] + hpt[r])
    if valid_triples is None:
        ent, rel = sgd_epochs(
            train_triples, ent, rel, epochs, lr, margin, seed, norm, bern_p,
            opt_method=opt_method,
        )
    else:
        best = (-1.0, ent, rel)
        bad = 0
        done = 0
        while done < epochs and bad < patience:
            step = min(eval_every, epochs - done)
            ent, rel = sgd_epochs(
                train_triples, ent, rel, step, lr, margin, seed, norm, bern_p,
                epoch_offset=done, opt_method=opt_method,
            )
            done += step
            mrr = valid_mrr(ent, rel, valid_triples, norm)
            if mrr > best[0]:
                best = (mrr, ent.copy(), rel.copy())
                bad = 0
            else:
                bad += 1
        _, ent, rel = best
    return {"ent": _normalize_rows(ent).astype("float32"), "rel": rel.astype("float32")}


def train_distributed(
    spark,
    train_df,
    n_ent: int,
    n_rel: int,
    dim: int = 16,
    rounds: int = 10,
    epochs_per_round: int = 5,
    lr: float = 0.05,
    margin: float = 1.0,
    norm: int = 1,
    n_shards: int = 4,
    seed: int = 42,
    opt_method: str = "sgd",
    loss: str = "margin",
):
    """A13 replacement: synchronous parameter-averaged data-parallel SGD.

    Per round: broadcast (ent, rel) → each shard runs ``epochs_per_round``
    local epochs in ``applyInPandas`` → driver averages shard results
    (weighted by shard size). Deterministic: shard assignment is a hash
    of the triple, local SGD is counter-seeded per (shard, round).

    ``loss``: ``margin`` (TransE recipe, byte-identical path) or
    ``softplus`` — the bilinear DistMult recipe
    (:func:`sgd_epochs_softplus`); parameter averaging is loss-agnostic.
    Under softplus the final entity rows are NOT re-normalized: the
    logistic loss learns score magnitudes, and the L2 weight decay is
    the norm control.
    """
    if loss not in ("margin", "softplus"):
        raise ValueError(loss)
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    ent = _xavier(rng, n_ent, dim)
    rel = _normalize_rows(_xavier(rng, n_rel, dim))
    sharded = train_df.withColumn(
        "shard", F.pmod(F.hash("h", "t", "r"), F.lit(n_shards))
    )
    out_schema = "shard int, kind string, flat array<double>, n long"

    for rnd in range(rounds):
        b = spark.sparkContext.broadcast((ent, rel))

        def make_fit(rnd_):
            def fit(key, pdf):
                e0, r0 = b.value
                shard = int(key[0])
                if loss == "softplus":
                    e1, r1 = sgd_epochs_softplus(
                        pdf, e0, r0, epochs_per_round, lr,
                        seed=seed * 31 + shard,
                        epoch_offset=rnd_ * epochs_per_round,
                    )
                else:
                    e1, r1 = sgd_epochs(
                        pdf, e0, r0, epochs_per_round, lr, margin,
                        seed=seed * 31 + shard, norm=norm,
                        epoch_offset=rnd_ * epochs_per_round, opt_method=opt_method,
                    )
                return pd.DataFrame(
                    {
                        "shard": [shard, shard],
                        "kind": ["ent", "rel"],
                        "flat": [e1.ravel().tolist(), r1.ravel().tolist()],
                        "n": [len(pdf), len(pdf)],
                    }
                )

            return fit

        fit = make_fit(rnd)

        res = sharded.groupBy("shard").applyInPandas(fit, out_schema).toPandas()
        tot = res[res["kind"] == "ent"]["n"].sum()
        ent = np.zeros_like(ent)
        rel = np.zeros_like(rel)
        for _, row in res.iterrows():
            w = row["n"] / tot
            mat = np.asarray(row["flat"], dtype="float64")
            if row["kind"] == "ent":
                ent += w * mat.reshape(ent.shape)
            else:
                rel += w * mat.reshape(rel.shape)
    if loss == "softplus":
        return {"ent": ent.astype("float32"), "rel": rel.astype("float32")}
    return {"ent": _normalize_rows(ent).astype("float32"), "rel": rel.astype("float32")}


def train_incremental(
    snapshots_dir: str,
    dim: int = 16,
    epochs: int = 30,
    lr: float = 0.05,
    margin: float = 1.0,
    norm: int = 1,
    seed: int = 42,
    eval_fn=None,
) -> dict[str, np.ndarray]:
    """A21: numbered snapshot dirs, warm-start + grow, eval per increment.

    ``snapshots_dir/{0,1,...}/`` each hold OpenKE-format files (the
    reference's incremental dataset layout). New entities/relations get
    Xavier rows; existing rows warm-start.
    """
    from .io_openke import read_split

    batches = sorted(d for d in os.listdir(snapshots_dir) if d.isdigit())
    rng = np.random.default_rng(seed)
    ent = rel = None
    history = []
    for b in batches:
        split = read_split(os.path.join(snapshots_dir, b))
        n_ent = len(split["entity2id"])
        n_rel = len(split["relation2id"])
        if ent is None:
            ent = _xavier(rng, n_ent, dim)
            rel = _normalize_rows(_xavier(rng, n_rel, dim))
        else:
            if n_ent > ent.shape[0]:
                ent = np.vstack([ent, _xavier(rng, n_ent - ent.shape[0], dim)])
            if n_rel > rel.shape[0]:
                rel = np.vstack([rel, _normalize_rows(_xavier(rng, n_rel - rel.shape[0], dim))])
        ent, rel = sgd_epochs(split["train2id"], ent, rel, epochs, lr, margin, seed, norm)
        if eval_fn is not None:
            history.append(eval_fn({"ent": ent.astype("float32"), "rel": rel.astype("float32")}, split))
    out = {"ent": _normalize_rows(ent).astype("float32"), "rel": rel.astype("float32")}
    if eval_fn is not None:
        out["history"] = history  # type: ignore[assignment]
    return out


def sgd_epochs_complex(
    triples: pd.DataFrame,
    ent_re: np.ndarray,
    ent_im: np.ndarray,
    rel_re: np.ndarray,
    rel_im: np.ndarray,
    epochs: int,
    lr: float,
    margin: float,
    seed: int,
    batch_size: int = 1024,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """ComplEx margin-ranking epochs (SGD): the four-matrix state
    (entity/relation real+imaginary parts) trains under the SAME
    margin loss and deterministic corruption as :func:`sgd_epochs`;
    gradients are the expansion of ``∂/∂h Re(<h, r, conj(t)>)`` etc.
    into real arithmetic (score negated per ``kernels.complex_score``,
    so lower is better throughout). Kept a separate function: the
    (ent, rel) pair signature of ``sgd_epochs`` is contract-frozen,
    and ComplEx's state is simply a different shape."""
    ent_re, ent_im = ent_re.copy(), ent_im.copy()
    rel_re, rel_im = rel_re.copy(), rel_im.copy()
    h_all = triples["h"].to_numpy(np.int64)
    t_all = triples["t"].to_numpy(np.int64)
    r_all = triples["r"].to_numpy(np.int64)
    n = len(h_all)
    n_ent = ent_re.shape[0]
    n_rel_pack = int(r_all.max()) + 1 if n else 1
    known_keys = None
    if n and float(n_ent) * n_ent * n_rel_pack < 2**63:
        known_keys = np.sort(_pack_keys(h_all, t_all, r_all, n_ent, n_rel_pack))

    def score(hre, him, rre, rim, tre, tim):
        return -(
            (hre * rre - him * rim) * tre + (hre * rim + him * rre) * tim
        ).sum(1)

    for ep in range(epochs):
        order = np.random.default_rng(seed * 7919 + ep).permutation(n)
        for lo in range(0, n, batch_size):
            idx = order[lo:lo + batch_size]
            h, t, r = h_all[idx], t_all[idx], r_all[idx]
            nh, nt = _corrupt(h, t, r, n_ent, seed, ep, None, known_keys, n_rel_pack)
            HRE, HIM = ent_re[h], ent_im[h]
            TRE, TIM = ent_re[t], ent_im[t]
            RRE, RIM = rel_re[r], rel_im[r]
            NHRE, NHIM = ent_re[nh], ent_im[nh]
            NTRE, NTIM = ent_re[nt], ent_im[nt]
            sp = score(HRE, HIM, RRE, RIM, TRE, TIM)
            sn = score(NHRE, NHIM, RRE, RIM, NTRE, NTIM)
            a = (margin + sp - sn) > 0
            if not a.any():
                continue

            def grads(hre, him, rre, rim, tre, tim):
                # ∂s/∂(·) for s = -Σ Re(h r conj(t)), masked to active
                return (
                    -(rre * tre + rim * tim)[a],        # d/d h_re
                    -(rre * tim - rim * tre)[a],        # d/d h_im
                    -(hre * rre - him * rim)[a],        # d/d t_re
                    -(hre * rim + him * rre)[a],        # d/d t_im
                    -(hre * tre + him * tim)[a],        # d/d r_re
                    -(hre * tim - him * tre)[a],        # d/d r_im
                )

            ghr, ghi, gtr, gti, grr, gri = grads(HRE, HIM, RRE, RIM, TRE, TIM)
            nhr, nhi, ntr, nti, nrr, nri = grads(NHRE, NHIM, RRE, RIM, NTRE, NTIM)
            # loss = margin + sp - sn: positive grads subtract, negative add
            _sparse_sgd(ent_re, np.concatenate([h[a], t[a], nh[a], nt[a]]),
                        np.concatenate([ghr, gtr, -nhr, -ntr]), lr)
            _sparse_sgd(ent_im, np.concatenate([h[a], t[a], nh[a], nt[a]]),
                        np.concatenate([ghi, gti, -nhi, -nti]), lr)
            _sparse_sgd(rel_re, r[a], grr - nrr, lr)
            _sparse_sgd(rel_im, r[a], gri - nri, lr)
    return ent_re, ent_im, rel_re, rel_im


def sgd_epochs_rotate(
    triples: pd.DataFrame,
    ent_re: np.ndarray,
    ent_im: np.ndarray,
    theta: np.ndarray,
    epochs: int,
    lr: float,
    margin: float,
    seed: int,
    batch_size: int = 1024,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """RotatE margin-ranking epochs (SGD): complex entity embeddings
    plus per-relation rotation ANGLES ``theta`` (the trainable
    parametrization — ``kernels.rotate`` consumes the derived
    ``(cos θ, sin θ)`` pair, which stays unit-modulus by construction
    no matter what SGD does to θ; training cos/sin directly would
    drift off the unit circle). Score = Σ_k |h_k·e^{iθ_k} − t_k|;
    gradients are the complex-modulus chain rule with the usual
    ``max(|z|, ε)`` guard at the non-differentiable origin."""
    ent_re, ent_im = ent_re.copy(), ent_im.copy()
    theta = theta.copy()
    h_all = triples["h"].to_numpy(np.int64)
    t_all = triples["t"].to_numpy(np.int64)
    r_all = triples["r"].to_numpy(np.int64)
    n = len(h_all)
    n_ent = ent_re.shape[0]
    n_rel_pack = int(r_all.max()) + 1 if n else 1
    known_keys = None
    if n and float(n_ent) * n_ent * n_rel_pack < 2**63:
        known_keys = np.sort(_pack_keys(h_all, t_all, r_all, n_ent, n_rel_pack))
    eps = 1e-12

    def parts(hre, him, c, s, tre, tim):
        z_re = hre * c - him * s - tre
        z_im = hre * s + him * c - tim
        m = np.sqrt(z_re * z_re + z_im * z_im)
        return z_re, z_im, np.maximum(m, eps)

    for ep in range(epochs):
        order = np.random.default_rng(seed * 7919 + ep).permutation(n)
        for lo in range(0, n, batch_size):
            idx = order[lo:lo + batch_size]
            h, t, r = h_all[idx], t_all[idx], r_all[idx]
            nh, nt = _corrupt(h, t, r, n_ent, seed, ep, None, known_keys, n_rel_pack)
            C, S = np.cos(theta[r]), np.sin(theta[r])
            pz_re, pz_im, pm = parts(ent_re[h], ent_im[h], C, S, ent_re[t], ent_im[t])
            nz_re, nz_im, nm = parts(
                ent_re[nh], ent_im[nh], C, S, ent_re[nt], ent_im[nt]
            )
            sp, sn = pm.sum(1), nm.sum(1)
            a = (margin + sp - sn) > 0
            if not a.any():
                continue

            def grads(z_re, z_im, m, hre, him):
                # chain rule for d Σ|z| / d(h_re, h_im, t_re, t_im, θ)
                ur, ui = z_re / m, z_im / m
                g_hre = ur * C + ui * S
                g_him = -ur * S + ui * C
                g_tre = -ur
                g_tim = -ui
                g_th = ur * (-hre * S - him * C) + ui * (hre * C - him * S)
                return g_hre[a], g_him[a], g_tre[a], g_tim[a], g_th[a]

            phr, phi, ptr, pti, pth = grads(pz_re, pz_im, pm, ent_re[h], ent_im[h])
            nhr, nhi, ntr, nti, nth = grads(nz_re, nz_im, nm, ent_re[nh], ent_im[nh])
            rows = np.concatenate([h[a], t[a], nh[a], nt[a]])
            _sparse_sgd(ent_re, rows, np.concatenate([phr, ptr, -nhr, -ntr]), lr)
            _sparse_sgd(ent_im, rows, np.concatenate([phi, pti, -nhi, -nti]), lr)
            _sparse_sgd(theta, r[a], pth - nth, lr)
    return ent_re, ent_im, theta


def _sigmoid(x: np.ndarray) -> np.ndarray:
    """Numerically stable logistic: never exponentiates a large positive."""
    out = np.empty_like(x, dtype=np.float64)
    pos = x >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-x[pos]))
    ex = np.exp(x[~pos])
    out[~pos] = ex / (1.0 + ex)
    return out


def softplus_loss_distmult(
    ent: np.ndarray,
    rel: np.ndarray,
    h: np.ndarray,
    t: np.ndarray,
    r: np.ndarray,
    nh: np.ndarray,
    nt: np.ndarray,
) -> float:
    """Mean softplus(-y·f) over the (positive, negative) pairs, with
    f = Σ_k h_k r_k t_k the RAW positive-is-high DistMult score (note
    ``kernels.distmult`` returns the NEGATED score so lower-is-better
    matches the distance kernels; the loss works on the raw sign)."""
    f_pos = (ent[h] * rel[r] * ent[t]).sum(1)
    f_neg = (ent[nh] * rel[r] * ent[nt]).sum(1)
    return float((np.logaddexp(0.0, -f_pos) + np.logaddexp(0.0, f_neg)).mean() / 2)


def sgd_epochs_softplus(
    triples: pd.DataFrame,
    ent: np.ndarray,
    rel: np.ndarray,
    epochs: int,
    lr: float,
    seed: int,
    reg: float = 1e-3,
    batch_size: int = 1024,
    epoch_offset: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """DistMult softplus-loss epochs (the reference family's recipe for
    bilinear scorers — OpenKE ``SoftplusLoss`` + L2 regularization,
    recalled, SURVEY.md §0): margin ranking suits bounded distance
    kernels, but a bilinear score is unbounded both ways, so the
    logistic loss ``softplus(-y·f)`` with per-occurrence L2 weight decay
    is what keeps DistMult/ComplEx from margin-chasing blowup.

    Same deterministic counter-based corruption and in-place-free
    sparse-SGD contract as :func:`sgd_epochs`; gradients are
    ``-σ(-f_pos)`` / ``σ(f_neg)`` times the bilinear partials plus
    ``2·reg·param`` on every touched row. Returns updated ``(ent, rel)``.
    """
    ent, rel = ent.copy(), rel.copy()
    h_all = triples["h"].to_numpy(np.int64)
    t_all = triples["t"].to_numpy(np.int64)
    r_all = triples["r"].to_numpy(np.int64)
    n = len(h_all)
    n_ent = ent.shape[0]
    n_rel_pack = int(r_all.max()) + 1 if n else 1
    known_keys = None
    if n and float(n_ent) * n_ent * n_rel_pack < 2**63:
        known_keys = np.sort(_pack_keys(h_all, t_all, r_all, n_ent, n_rel_pack))
    for ep in range(epoch_offset, epoch_offset + epochs):
        order = np.random.default_rng(seed * 7919 + ep).permutation(n)
        for lo in range(0, n, batch_size):
            idx = order[lo:lo + batch_size]
            h, t, r = h_all[idx], t_all[idx], r_all[idx]
            nh, nt = _corrupt(h, t, r, n_ent, seed, ep, None, known_keys, n_rel_pack)
            H, R, T = ent[h], rel[r], ent[t]
            NH, NT = ent[nh], ent[nt]
            gpos = -_sigmoid(-(H * R * T).sum(1))[:, None]  # dL/df, y=+1
            gneg = _sigmoid((NH * R * NT).sum(1))[:, None]  # dL/df, y=-1
            gh = gpos * (R * T) + 2 * reg * H
            gt = gpos * (H * R) + 2 * reg * T
            gnh = gneg * (R * NT) + 2 * reg * NH
            gnt = gneg * (NH * R) + 2 * reg * NT
            gr = gpos * (H * T) + gneg * (NH * NT) + 2 * reg * R
            _sparse_sgd(
                ent,
                np.concatenate([h, t, nh, nt]),
                np.concatenate([gh, gt, gnh, gnt]),
                lr,
            )
            _sparse_sgd(rel, r, gr, lr)
    return ent, rel

def selfadv_loss_rotate(
    ent_re: np.ndarray,
    ent_im: np.ndarray,
    theta: np.ndarray,
    h: np.ndarray,
    t: np.ndarray,
    r: np.ndarray,
    nh: np.ndarray,
    nt: np.ndarray,
    gamma: float = 6.0,
    alpha: float = 1.0,
) -> float:
    """RotatE's self-adversarial loss (Sun et al. 2019, eq. 5) on a
    FIXED negative set: ``nh``/``nt`` are ``[n, K]`` corruption arrays.
    ``L = −log σ(γ − d(pos)) − Σ_k p_k · log σ(d(neg_k) − γ)`` with
    ``p = softmax_k(α · (γ − d(neg)))`` — harder (lower-distance)
    negatives carry more weight, which is the entire point: uniform
    corruption mostly draws trivially-false triples whose gradient
    vanishes once training starts."""
    C, S = np.cos(theta[r]), np.sin(theta[r])
    def dist(hh, tt, c, s):
        z_re = ent_re[hh] * c - ent_im[hh] * s - ent_re[tt]
        z_im = ent_re[hh] * s + ent_im[hh] * c - ent_im[tt]
        return np.sqrt(z_re * z_re + z_im * z_im).sum(-1)
    d_pos = dist(h, t, C, S)
    d_neg = dist(nh, nt, C[:, None], S[:, None])  # [n, K]
    logits = alpha * (gamma - d_neg)
    logits -= logits.max(axis=1, keepdims=True)
    p = np.exp(logits)
    p /= p.sum(axis=1, keepdims=True)
    # -log σ(x) = softplus(-x) = logaddexp(0, -x)
    pos_term = np.logaddexp(0.0, -(gamma - d_pos))
    neg_term = (p * np.logaddexp(0.0, -(d_neg - gamma))).sum(axis=1)
    return float((pos_term + neg_term).mean())


def sgd_epochs_selfadv(
    triples: pd.DataFrame,
    ent_re: np.ndarray,
    ent_im: np.ndarray,
    theta: np.ndarray,
    epochs: int,
    lr: float,
    seed: int,
    gamma: float = 6.0,
    alpha: float = 1.0,
    n_neg: int = 4,
    batch_size: int = 1024,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """RotatE epochs under self-adversarial negative sampling (Sun et
    al. 2019): K corruptions per positive, each weighted by the
    DETACHED softmax of its own plausibility — the negative-sampling
    refinement the margin trainer (:func:`sgd_epochs_rotate`) lacks,
    and the recipe the RotatE paper actually ships.

    Determinism contract shared with every other trainer here: the
    k-th corruption of epoch ``ep`` comes from the counter-based
    ``_corrupt`` at epoch key ``ep * n_neg + k`` (no RNG state, replay
    = identity), batches iterate a seeded permutation, updates are
    accumulated sparse-SGD (`np.add.at` — duplicate rows in a batch
    sum, never race). Gradient coefficients: ``σ(d_pos − γ)`` on the
    positive distance, ``−p_k · σ(γ − d_neg_k)`` on each negative
    (p treated as a constant, per the paper). The rotation stays
    parametrized by θ so unit modulus holds by construction.
    """
    ent_re, ent_im = ent_re.copy(), ent_im.copy()
    theta = theta.copy()
    h_all = triples["h"].to_numpy(np.int64)
    t_all = triples["t"].to_numpy(np.int64)
    r_all = triples["r"].to_numpy(np.int64)
    n = len(h_all)
    n_ent = ent_re.shape[0]
    n_rel_pack = int(r_all.max()) + 1 if n else 1
    known_keys = None
    if n and float(n_ent) * n_ent * n_rel_pack < 2**63:
        known_keys = np.sort(_pack_keys(h_all, t_all, r_all, n_ent, n_rel_pack))
    eps = 1e-12

    def parts(hre, him, c, s, tre, tim):
        z_re = hre * c - him * s - tre
        z_im = hre * s + him * c - tim
        m = np.sqrt(z_re * z_re + z_im * z_im)
        return z_re, z_im, np.maximum(m, eps)

    for ep in range(epochs):
        order = np.random.default_rng(seed * 7919 + ep).permutation(n)
        for lo in range(0, n, batch_size):
            idx = order[lo:lo + batch_size]
            h, t, r = h_all[idx], t_all[idx], r_all[idx]
            C, S = np.cos(theta[r]), np.sin(theta[r])
            H_re, H_im = ent_re[h], ent_im[h]
            # K corruption draws, distinct counter key per k
            negs = [
                _corrupt(h, t, r, n_ent, seed, ep * n_neg + k, None,
                         known_keys, n_rel_pack)
                for k in range(n_neg)
            ]
            pz_re, pz_im, pm = parts(H_re, H_im, C, S, ent_re[t], ent_im[t])
            d_pos = pm.sum(1)
            nparts = []
            d_neg = np.empty((len(h), n_neg))
            for k, (nh, nt) in enumerate(negs):
                zr, zi, m = parts(ent_re[nh], ent_im[nh], C, S,
                                  ent_re[nt], ent_im[nt])
                nparts.append((nh, nt, zr, zi, m))
                d_neg[:, k] = m.sum(1)
            logits = alpha * (gamma - d_neg)
            logits -= logits.max(axis=1, keepdims=True)
            p = np.exp(logits)
            p /= p.sum(axis=1, keepdims=True)
            gp = _sigmoid(d_pos - gamma)          # dL/dd_pos
            gn = p * _sigmoid(gamma - d_neg)      # -dL/dd_neg_k, [B, K]

            def grads(z_re, z_im, m, hre, him):
                ur, ui = z_re / m, z_im / m
                g_hre = ur * C + ui * S
                g_him = -ur * S + ui * C
                g_th = ur * (-hre * S - him * C) + ui * (hre * C - him * S)
                return g_hre, g_him, -ur, -ui, g_th

            phr, phi, ptr, pti, pth = grads(pz_re, pz_im, pm, H_re, H_im)
            w = gp[:, None]
            rows = [h, t]
            g_re = [w * phr, w * ptr]
            g_im = [w * phi, w * pti]
            g_th_acc = (w * pth).copy()
            for k, (nh, nt, zr, zi, m) in enumerate(nparts):
                nhr, nhi, ntr, nti, nth = grads(zr, zi, m, ent_re[nh], ent_im[nh])
                wk = gn[:, k][:, None]
                rows += [nh, nt]
                g_re += [-wk * nhr, -wk * ntr]
                g_im += [-wk * nhi, -wk * nti]
                g_th_acc -= wk * nth
            rows_cat = np.concatenate(rows)
            _sparse_sgd(ent_re, rows_cat, np.concatenate(g_re), lr)
            _sparse_sgd(ent_im, rows_cat, np.concatenate(g_im), lr)
            _sparse_sgd(theta, r, g_th_acc, lr)
    return ent_re, ent_im, theta
