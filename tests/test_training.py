"""A11/A12/A13/A21: training reduces loss / improves eval vs random init."""

import os

import numpy as np
import pandas as pd
import pytest

from kgforge import kernels, training
from kgforge.fixtures import gen_openke_split
from kgforge.io_openke import write_split

N_ENT, N_REL = 40, 4
SPLIT = gen_openke_split(n_ent=N_ENT, n_rel=N_REL, n_train=300, n_valid=30, n_test=30)


def _mean_pos_minus_neg(emb, split="train2id") -> float:
    """Positive triples should score lower (closer) than corrupted ones.

    Asserted on the TRAIN slice (the optimization target): the fixture
    KG is structured-random, so test-set generalization is not a stable
    property to gate on."""
    t = SPLIT[split]
    rng = np.random.default_rng(0)
    pos = kernels.score_batch(
        "transe", emb, t["h"].to_numpy(), t["r"].to_numpy(), t["t"].to_numpy(), 1
    )
    neg_t = rng.integers(0, N_ENT, len(t))
    neg = kernels.score_batch(
        "transe", emb, t["h"].to_numpy(), t["r"].to_numpy(), neg_t, 1
    )
    return float(pos.mean() - neg.mean())


def test_train_separates_pos_from_neg():
    # seeded, deterministic run at a measured operating point
    # (train gap ≈ -0.96)
    emb = training.train(SPLIT["train2id"], N_ENT, N_REL, dim=16, epochs=100, lr=0.1)
    gap = _mean_pos_minus_neg(emb)
    assert gap < -0.3, f"trained pos-neg gap {gap} (want clearly negative)"


def test_train_deterministic():
    a = training.train(SPLIT["train2id"], N_ENT, N_REL, dim=8, epochs=5)
    b = training.train(SPLIT["train2id"], N_ENT, N_REL, dim=8, epochs=5)
    np.testing.assert_array_equal(a["ent"], b["ent"])
    np.testing.assert_array_equal(a["rel"], b["rel"])


def test_corrupt_rejects_known_triples():
    """_corrupt must never emit a corruption that forms a known train
    triple (incl. the degenerate copy of the positive) when given the
    packed known-key index."""
    t = SPLIT["train2id"]
    h = t["h"].to_numpy(np.int64)
    tt = t["t"].to_numpy(np.int64)
    r = t["r"].to_numpy(np.int64)
    keys = np.sort(training._pack_keys(h, tt, r, N_ENT, N_REL))
    known = set(map(tuple, t[["h", "t", "r"]].itertuples(index=False)))
    for ep in range(5):
        nh, nt = training._corrupt(h, tt, r, N_ENT, seed=42, epoch=ep,
                                   known_keys=keys, n_rel=N_REL)
        assert not any((a, b, c) in known for a, b, c in zip(nh, nt, r))


@pytest.mark.parametrize("opt,lr", [("adagrad", 0.5), ("adam", 0.05), ("adadelta", 1.0)])
def test_optimizers_separate_pos_from_neg(opt, lr):
    """A12: every opt_method the reference exposes trains to a clearly
    negative pos-neg margin gap on the fixture."""
    emb = training.train(
        SPLIT["train2id"], N_ENT, N_REL, dim=16, epochs=60, lr=lr, opt_method=opt
    )
    gap = _mean_pos_minus_neg(emb)
    assert gap < -0.15, f"{opt} pos-neg gap {gap}"


def test_unknown_opt_method_raises():
    with pytest.raises(ValueError):
        training.train(SPLIT["train2id"], N_ENT, N_REL, dim=4, epochs=1, opt_method="rmsprop")


def test_train_distributed_separates(spark):
    df = spark.createDataFrame(SPLIT["train2id"])
    emb = training.train_distributed(
        spark, df, N_ENT, N_REL, dim=16, rounds=4, epochs_per_round=10, lr=0.1, n_shards=3
    )
    gap = _mean_pos_minus_neg(emb)
    assert gap < -0.1, f"distributed pos-neg gap {gap}"


def test_train_incremental(tmp_path):
    # two increments: second adds entities (grown dictionary)
    s1 = gen_openke_split(n_ent=30, n_rel=4, n_train=200, n_valid=20, n_test=20, seed=1)
    s2 = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=20, n_test=20, seed=2)
    write_split(s1, str(tmp_path / "0"))
    write_split(s2, str(tmp_path / "1"))
    evals = []

    def eval_fn(emb, split):
        evals.append(emb["ent"].shape[0])
        return emb["ent"].shape[0]

    out = training.train_incremental(str(tmp_path), dim=8, epochs=5, eval_fn=eval_fn)
    assert out["ent"].shape == (40, 8)
    assert evals == [30, 40]


def test_early_stop_returns_best_snapshot():
    emb = training.train(
        SPLIT["train2id"], N_ENT, N_REL, dim=8, epochs=60, lr=0.1,
        valid_triples=SPLIT["valid2id"], eval_every=10, patience=2,
    )
    assert emb["ent"].shape == (N_ENT, 8)
    # best snapshot must be at least as good as random init on valid MRR
    rng = np.random.default_rng(42)
    e0 = rng.normal(size=(N_ENT, 8)); e0 /= np.linalg.norm(e0, axis=1, keepdims=True)
    r0 = rng.normal(size=(N_REL, 8)); r0 /= np.linalg.norm(r0, axis=1, keepdims=True)
    m_rand = training.valid_mrr(e0, r0, SPLIT["valid2id"])
    m_best = training.valid_mrr(
        emb["ent"].astype("float64"), emb["rel"].astype("float64"), SPLIT["valid2id"]
    )
    assert m_best >= m_rand


def test_distmult_training_learns_the_split():
    """DistMult branch of sgd_epochs: margin loss falls and filtered
    Hits@10 on the train triples beats the random baseline by a wide
    margin — evaluated with the SAME kernels.score_batch the eval paths
    use. The transe branch is untouched by construction (separate code
    path), which the unchanged a12/a13 trajectories pin elsewhere."""
    import numpy as np

    from kgforge import kernels
    from kgforge.fixtures import gen_openke_split
    from kgforge.training import _xavier, sgd_epochs

    split = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=30, n_test=30)
    train = split["train2id"]
    rng = np.random.default_rng(5)
    ent0, rel0 = _xavier(rng, 40, 16), _xavier(rng, 4, 16)

    def mean_margin_loss(ent, rel):
        h = train["h"].to_numpy(); t = train["t"].to_numpy(); r = train["r"].to_numpy()
        emb = {"ent": ent, "rel": rel}
        sp = kernels.score_batch("distmult", emb, h, r, t)
        sn = kernels.score_batch("distmult", emb, (h + 1) % 40, r, t)
        return float(np.maximum(0.0, 1.0 + sp - sn).mean())

    ent1, rel1 = sgd_epochs(
        train, ent0, rel0, epochs=40, lr=0.05, margin=1.0, seed=3,
        model="distmult",
    )
    assert mean_margin_loss(ent1, rel1) < mean_margin_loss(ent0, rel0) * 0.7
    # tail Hits@10 on train triples (memorization gate, like A14's)
    emb = {"ent": ent1, "rel": rel1}
    hits = 0
    sample = train.head(50)
    for h, t, r in sample[["h", "t", "r"]].itertuples(index=False):
        s = kernels.score_batch(
            "distmult", emb,
            np.full(40, h), np.full(40, r), np.arange(40),
        )
        hits += int((s < s[t]).sum() < 10)
    assert hits / len(sample) > 0.5  # random baseline would be 10/40 = 0.25
    # adagrad path exercises the optimizer branch too
    ent2, rel2 = sgd_epochs(
        train, ent0, rel0, epochs=10, lr=0.1, margin=1.0, seed=3,
        model="distmult", opt_method="adagrad",
    )
    assert mean_margin_loss(ent2, rel2) < mean_margin_loss(ent0, rel0)


def test_complex_training_learns_the_split():
    """ComplEx four-matrix trainer: margin loss falls hard and filtered
    Hits@10 on the memorization gate clears 3x the random baseline,
    scored through the shared kernels path."""
    import numpy as np

    from kgforge import kernels
    from kgforge.fixtures import gen_openke_split
    from kgforge.training import _xavier, sgd_epochs_complex

    split = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=30, n_test=30)
    train = split["train2id"]
    rng = np.random.default_rng(5)
    er, ei = _xavier(rng, 40, 16), _xavier(rng, 40, 16)
    rr, ri = _xavier(rng, 4, 16), _xavier(rng, 4, 16)

    def loss(er_, ei_, rr_, ri_):
        h = train["h"].to_numpy(); t = train["t"].to_numpy(); r = train["r"].to_numpy()
        emb = {"ent": er_, "ent_im": ei_, "rel": rr_, "rel_im": ri_}
        sp = kernels.score_batch("complex", emb, h, r, t)
        sn = kernels.score_batch("complex", emb, (h + 1) % 40, r, t)
        return float(np.maximum(0.0, 1.0 + sp - sn).mean())

    base = loss(er, ei, rr, ri)
    er1, ei1, rr1, ri1 = sgd_epochs_complex(
        train, er, ei, rr, ri, epochs=30, lr=0.02, margin=1.0, seed=3
    )
    assert loss(er1, ei1, rr1, ri1) < base * 0.3
    emb = {"ent": er1, "ent_im": ei1, "rel": rr1, "rel_im": ri1}
    hits = 0
    sample = train.head(50)
    for h, t, r in sample[["h", "t", "r"]].itertuples(index=False):
        s = kernels.score_batch(
            "complex", emb, np.full(40, h), np.full(40, r), np.arange(40)
        )
        hits += int((s < s[t]).sum() < 10)
    assert hits / len(sample) > 0.75  # random baseline = 0.25


def test_rotate_training_learns_the_split():
    """RotatE trainer: theta-parametrized rotations stay unit-modulus by
    construction; margin loss falls and Hits@10 clears 3x random,
    scored through the shared kernels path."""
    import numpy as np

    from kgforge import kernels
    from kgforge.fixtures import gen_openke_split
    from kgforge.training import _xavier, sgd_epochs_rotate

    split = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=30, n_test=30)
    train = split["train2id"]
    rng = np.random.default_rng(5)
    er, ei = _xavier(rng, 40, 16), _xavier(rng, 40, 16)
    th = rng.uniform(-np.pi, np.pi, size=(4, 16))

    def loss(er_, ei_, th_):
        h = train["h"].to_numpy(); t = train["t"].to_numpy(); r = train["r"].to_numpy()
        emb = {"ent": er_, "ent_im": ei_, "rot_re": np.cos(th_), "rot_im": np.sin(th_)}
        sp = kernels.score_batch("rotate", emb, h, r, t)
        sn = kernels.score_batch("rotate", emb, (h + 1) % 40, r, t)
        return float(np.maximum(0.0, 2.0 + sp - sn).mean())

    base = loss(er, ei, th)
    er1, ei1, th1 = sgd_epochs_rotate(
        train, er, ei, th, epochs=40, lr=0.05, margin=2.0, seed=3
    )
    assert loss(er1, ei1, th1) < base * 0.3
    # unit modulus holds exactly whatever SGD did to theta
    rot = np.cos(th1) ** 2 + np.sin(th1) ** 2
    np.testing.assert_allclose(rot, 1.0, rtol=1e-12)
    emb = {"ent": er1, "ent_im": ei1, "rot_re": np.cos(th1), "rot_im": np.sin(th1)}
    hits = 0
    sample = train.head(50)
    for h, t, r in sample[["h", "t", "r"]].itertuples(index=False):
        s = kernels.score_batch(
            "rotate", emb, np.full(40, h), np.full(40, r), np.arange(40)
        )
        hits += int((s < s[t]).sum() < 10)
    assert hits / len(sample) > 0.75


def test_softplus_distmult_trainer():
    """Softplus-loss DistMult (the bilinear family's reference recipe):
    the logistic loss falls hard, training is seed-deterministic, and
    the analytic gradient matches central finite differences of
    softplus_loss_distmult on a small batch."""
    from kgforge.training import (
        _sigmoid,
        _xavier,
        sgd_epochs_softplus,
        softplus_loss_distmult,
    )

    split = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=30, n_test=30)
    train = split["train2id"]
    rng = np.random.default_rng(5)
    ent0, rel0 = _xavier(rng, 40, 16), _xavier(rng, 4, 16)
    h = train["h"].to_numpy(np.int64)
    t = train["t"].to_numpy(np.int64)
    r = train["r"].to_numpy(np.int64)
    nh, nt = (h + 1) % 40, t  # fixed corruption for the loss metric

    base = softplus_loss_distmult(ent0, rel0, h, t, r, nh, nt)
    ent1, rel1 = sgd_epochs_softplus(train, ent0, rel0, epochs=40, lr=0.05, seed=3)
    trained = softplus_loss_distmult(ent1, rel1, h, t, r, nh, nt)
    assert trained < base * 0.7, (base, trained)
    # inputs untouched (in-place-free contract) and seed-deterministic
    assert softplus_loss_distmult(ent0, rel0, h, t, r, nh, nt) == base
    ent2, rel2 = sgd_epochs_softplus(train, ent0, rel0, epochs=40, lr=0.05, seed=3)
    np.testing.assert_array_equal(ent1, ent2)
    np.testing.assert_array_equal(rel1, rel2)

    # gradient check: analytic dL/dent vs central differences (no reg —
    # the regularizer is a separate, trivially-correct 2λp term)
    hs, ts, rs = h[:3], t[:3], r[:3]
    nhs, nts = nh[:3], nt[:3]

    def loss(e):
        return softplus_loss_distmult(e, rel0, hs, ts, rs, nhs, nts)

    n_pairs = len(hs)
    gpos = -_sigmoid(-(ent0[hs] * rel0[rs] * ent0[ts]).sum(1))[:, None]
    gneg = _sigmoid((ent0[nhs] * rel0[rs] * ent0[nts]).sum(1))[:, None]
    analytic = np.zeros_like(ent0)
    np.add.at(analytic, hs, gpos * rel0[rs] * ent0[ts] / (2 * n_pairs))
    np.add.at(analytic, ts, gpos * ent0[hs] * rel0[rs] / (2 * n_pairs))
    np.add.at(analytic, nhs, gneg * rel0[rs] * ent0[nts] / (2 * n_pairs))
    np.add.at(analytic, nts, gneg * ent0[nhs] * rel0[rs] / (2 * n_pairs))
    eps = 1e-6
    check = [(int(i), int(k)) for i in np.unique(np.r_[hs, ts, nhs, nts]) for k in (0, 7)]
    for i, k in check:
        ep = ent0.copy(); ep[i, k] += eps
        em = ent0.copy(); em[i, k] -= eps
        num = (loss(ep) - loss(em)) / (2 * eps)
        assert abs(num - analytic[i, k]) < 1e-7, (i, k, num, analytic[i, k])


def test_train_distributed_large_seed(spark):
    """Seeds from ~2.2e8 up used to overflow the corruption hash's uint64
    conversion (``seed * 31 + shard`` per shard); the hash is now masked
    to 64 bits. A small seed's corruptions and trained embeddings stay
    bit-identical to the unmasked hash (digests pinned before the fix)."""
    import hashlib

    t = SPLIT["train2id"]
    h, tt, r = (t[c].to_numpy(np.int64) for c in ("h", "t", "r"))
    nh, nt = training._corrupt(h, tt, r, N_ENT, 7 * 31 + 1, 3)
    assert hashlib.sha256(nh.tobytes() + nt.tobytes()).hexdigest()[:16] == "1446a3f7bfd3dc44"
    df = spark.createDataFrame(t)
    kw = dict(dim=8, rounds=2, epochs_per_round=2, lr=0.1, n_shards=2)
    emb = training.train_distributed(spark, df, N_ENT, N_REL, seed=7, **kw)
    digest = hashlib.sha256(emb["ent"].tobytes() + emb["rel"].tobytes()).hexdigest()[:16]
    assert digest == "0220c892fb763c4f"
    big = training.train_distributed(spark, df, N_ENT, N_REL, seed=1645682185, **kw)
    assert np.isfinite(big["ent"]).all() and np.isfinite(big["rel"]).all()


def test_train_distributed_softplus(spark):
    """Param averaging is loss-agnostic: the softplus/DistMult local
    trainer slots into the same shard → average rounds, the trained
    model scores positives below corruptions under the distmult
    kernel, entity rows are NOT re-normalized (magnitudes carry the
    logistic score), and everything stays finite."""
    df = spark.createDataFrame(SPLIT["train2id"])
    emb = training.train_distributed(
        spark, df, N_ENT, N_REL, dim=16, rounds=3, epochs_per_round=8,
        lr=0.05, n_shards=3, loss="softplus",
    )
    t = SPLIT["train2id"]
    rng = np.random.default_rng(0)
    pos = kernels.score_batch(
        "distmult", emb, t["h"].to_numpy(), t["r"].to_numpy(), t["t"].to_numpy()
    )
    neg = kernels.score_batch(
        "distmult", emb, t["h"].to_numpy(), t["r"].to_numpy(),
        rng.integers(0, N_ENT, len(t)),
    )
    assert pos.mean() < neg.mean(), (pos.mean(), neg.mean())
    assert np.isfinite(emb["ent"]).all() and np.isfinite(emb["rel"]).all()
    norms = np.linalg.norm(emb["ent"], axis=1)
    assert norms.std() > 1e-6  # not row-normalized
    with pytest.raises(ValueError):
        training.train_distributed(spark, df, N_ENT, N_REL, loss="hinge2")


def test_selfadv_rotate_trainer():
    """Self-adversarial RotatE (Sun et al. 2019 eq. 5): the adversarial
    loss falls, training is seed-deterministic and in-place-free, and
    the analytic per-distance gradient coefficients match central
    finite differences of the FROZEN-p loss (the paper detaches the
    softmax weights, so the analytic gradient is exact for the loss
    with p held constant)."""
    from kgforge.training import (
        _sigmoid,
        _xavier,
        selfadv_loss_rotate,
        sgd_epochs_selfadv,
    )

    split = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=30, n_test=30)
    train = split["train2id"]
    rng = np.random.default_rng(5)
    er0, ei0 = _xavier(rng, 40, 16), _xavier(rng, 40, 16)
    th0 = rng.uniform(-np.pi, np.pi, size=(4, 16))
    h = train["h"].to_numpy(np.int64)
    t = train["t"].to_numpy(np.int64)
    r = train["r"].to_numpy(np.int64)
    K = 4
    nh = np.stack([(h + k + 1) % 40 for k in range(K)], axis=1)
    nt = np.repeat(t[:, None], K, axis=1)

    base = selfadv_loss_rotate(er0, ei0, th0, h, t, r, nh, nt)
    er1, ei1, th1 = sgd_epochs_selfadv(
        train, er0, ei0, th0, epochs=30, lr=0.05, seed=3
    )
    trained = selfadv_loss_rotate(er1, ei1, th1, h, t, r, nh, nt)
    assert trained < base * 0.8, (base, trained)
    assert selfadv_loss_rotate(er0, ei0, th0, h, t, r, nh, nt) == base
    er2, ei2, th2 = sgd_epochs_selfadv(
        train, er0, ei0, th0, epochs=30, lr=0.05, seed=3
    )
    np.testing.assert_array_equal(er1, er2)
    np.testing.assert_array_equal(th1, th2)

    # frozen-p gradient check on ent_re for a 3-row batch
    gamma, alpha = 6.0, 1.0
    hs, ts, rs = h[:3], t[:3], r[:3]
    nhs, nts = nh[:3], nt[:3]
    C, S = np.cos(th0[rs]), np.sin(th0[rs])

    def dists(e_re):
        def d(hh, tt, c, s):
            zr = e_re[hh] * c - ei0[hh] * s - e_re[tt]
            zi = e_re[hh] * s + ei0[hh] * c - ei0[tt]
            return np.sqrt(zr * zr + zi * zi).sum(-1)
        return d(hs, ts, C, S), d(nhs, nts, C[:, None], S[:, None])

    dp0, dn0 = dists(er0)
    logits = alpha * (gamma - dn0)
    logits -= logits.max(axis=1, keepdims=True)
    p0 = np.exp(logits); p0 /= p0.sum(axis=1, keepdims=True)

    def frozen_loss(e_re):
        dp, dn = dists(e_re)
        return float(
            (np.logaddexp(0.0, -(gamma - dp))
             + (p0 * np.logaddexp(0.0, -(dn - gamma))).sum(axis=1)).mean()
        )

    # analytic: dL/dd_pos = sigmoid(d_pos - gamma)/n, per-neg
    # dL/dd_neg_k = -p0_k * sigmoid(gamma - d_neg_k)/n; chain through z
    n_rows = len(hs)
    analytic = np.zeros_like(er0)

    def add_chain(hh, tt, c, s, coef):
        zr = er0[hh] * c - ei0[hh] * s - er0[tt]
        zi = er0[hh] * s + ei0[hh] * c - ei0[tt]
        m = np.maximum(np.sqrt(zr * zr + zi * zi), 1e-12)
        ur, ui = zr / m, zi / m
        np.add.at(analytic, hh, coef[..., None] * (ur * c + ui * s))
        np.add.at(analytic, tt, coef[..., None] * (-ur))

    add_chain(hs, ts, C, S, _sigmoid(dp0 - gamma) / n_rows)
    for k in range(K):
        add_chain(
            nhs[:, k], nts[:, k], C, S,
            -(p0[:, k] * _sigmoid(gamma - dn0[:, k])) / n_rows,
        )
    eps = 1e-6
    ids = np.unique(np.r_[hs, ts, nhs.ravel(), nts.ravel()])
    for i in ids[:6]:
        for k in (0, 7):
            ep_ = er0.copy(); ep_[i, k] += eps
            em_ = er0.copy(); em_[i, k] -= eps
            num = (frozen_loss(ep_) - frozen_loss(em_)) / (2 * eps)
            assert abs(num - analytic[i, k]) < 1e-7, (i, k, num, analytic[i, k])
