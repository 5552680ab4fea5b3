"""Stages B7/B8 — alias canonicalization: MinHash-LSH blocking +
iterative-join connected components.

B7 (MinHash-LSH): char-shingle each name, minhash with ``n_perm``
universal-hash permutations (counter-based splitmix64 — deterministic,
partition-independent), band the signature, ``groupBy(band, band_hash)``
to form candidate buckets, join within buckets to candidate pairs, then
verify with exact Jaccard. All vectorized NumPy inside one
``mapInPandas`` (signatures) + built-in joins/aggs (banding, pairing).

Skew control: buckets are capped (``max_bucket``) — a degenerate bucket
(e.g. every name sharing a stop-shingle band) would otherwise explode
quadratically at the pair-join. Dropped buckets are observable via the
returned stats, not silent (SURVEY.md §7.3.4).

B8 (connected components): hash-min label propagation with DataFrame
joins — GraphFrames is not in the sandbox and north_star allows either.
``labels(n) = min(labels of n ∪ neighbors)``, iterate to fixpoint;
``localCheckpoint()`` every iteration truncates the lineage (plan blowup
is the classic failure here). Converges in O(diameter) rounds; alias
graphs have tiny diameters. Each iteration: one self-join shuffle on
``node`` — at 1000-executor scale this is the standard large-graph CC
pattern (hash-partition on node id, AQE coalesces).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sampling import splitmix64


def char_shingles(s: pd.Series, k: int = 3) -> pd.Series:
    """Set of k-char shingles per normalized string (vectorized-ish)."""
    s = s.str.lower().str.replace(r"[^\w]", "", regex=True)
    return s.map(lambda x: {x[i:i + k] for i in range(max(1, len(x) - k + 1))})


def minhash_matrix(
    strings: list[str], n_perm: int, k: int, seed: int, return_shingles: bool = False
) -> np.ndarray:
    """MinHash signatures for normalized strings → ``[n, n_perm]`` int64.

    Bit-identical to the scalar recipe (FNV-1a per shingle via
    :func:`hash_shingle`, then ``min(splitmix64(base ^ perm_const))``)
    but hashed in NumPy passes: ASCII strings of length >= k go through
    :func:`kgforge.hashing.fnv1a_windows` (byte windows == char windows
    for ASCII); short strings hash as one whole-string shingle via
    ``fnv1a_tokens``; non-ASCII rows fall back to the scalar loop.
    MinHash minimizes over the shingle *multiset*, which equals the min
    over the set — so no per-window dedup is needed.
    """
    from ..hashing import fnv1a_tokens, fnv1a_windows, flat_windows, pack_strings, pad_tokens

    n = len(strings)
    pc = splitmix64(np.arange(n_perm, dtype=np.uint64) + np.uint64(seed))
    out = np.empty((n, n_perm), dtype=np.int64)

    long_i, short_i, fb_i = [], [], []
    for i, s in enumerate(strings):
        if not s.isascii():
            fb_i.append(i)
        elif len(s) >= k:
            long_i.append(i)
        else:
            short_i.append(i)

    def _sig_from_grouped(base: np.ndarray, counts: np.ndarray) -> np.ndarray:
        """Per-group min over n_perm remixes.

        Chunked on BOTH axes so every temporary stays ≤ ~16 MB: glibc
        hands buffers above its mmap threshold (≤ 32 MB cap) straight
        back to the OS, so big temporaries page-fault on every reuse —
        measured 12 s vs 0.3 s for the identical arithmetic.
        """
        n_rows = len(counts)
        bounds = np.concatenate(([0], np.cumsum(counts)))
        sig = np.empty((n_rows, n_perm), dtype=np.uint64)
        W_MAX = 262144
        row_lo = 0
        while row_lo < n_rows:
            row_hi = row_lo + 1
            while row_hi < n_rows and bounds[row_hi + 1] - bounds[row_lo] <= W_MAX:
                row_hi += 1
            b = base[bounds[row_lo]:bounds[row_hi]]
            idx = (bounds[row_lo:row_hi] - bounds[row_lo]).astype(np.int64)
            for p in range(0, n_perm, 8):
                m = splitmix64(b[:, None] ^ pc[None, p:p + 8])
                sig[row_lo:row_hi, p:p + 8] = np.minimum.reduceat(m, idx, axis=0)
            row_lo = row_hi
        return (sig >> np.uint64(1)).astype(np.int64)

    sh_out: list | None = [None] * n if return_shingles else None

    if long_i:
        buf, offsets, lens = pack_strings([strings[i].encode() for i in long_i])
        starts, counts = flat_windows(lens, offsets, k)
        base = fnv1a_windows(buf, starts, k, seed)
        out[long_i] = _sig_from_grouped(base, counts)
        if return_shingles:
            bounds = np.concatenate(([0], np.cumsum(counts)))
            b64 = base.astype(np.int64)
            for j, i in enumerate(long_i):
                sh_out[i] = np.unique(b64[bounds[j]:bounds[j + 1]])
    if short_i:
        padded, lens = pad_tokens([strings[i].encode() for i in short_i])
        base = fnv1a_tokens(padded, lens, seed)
        out[short_i] = _sig_from_grouped(base, np.ones(len(short_i), dtype=np.int64))
        if return_shingles:
            b64 = base.astype(np.int64)
            for j, i in enumerate(short_i):
                sh_out[i] = b64[j:j + 1]
    for i in fb_i:
        x = strings[i]
        sh = {x[j:j + k] for j in range(max(1, len(x) - k + 1))}
        base = np.array([hash_shingle(y, seed) for y in sh], dtype=np.uint64)
        m = splitmix64(base[:, None] ^ pc[None, :])
        out[i] = (m.min(axis=0) >> np.uint64(1)).astype(np.int64)
        if return_shingles:
            sh_out[i] = np.unique(base.astype(np.int64))
    if return_shingles:
        return out, sh_out
    return out


def minhash_signatures(
    names: DataFrame,
    name_col: str = "name",
    n_perm: int = 32,
    k: int = 3,
    seed: int = 42,
    id_col: str | None = None,
) -> DataFrame:
    """B7 step 1: minhash signatures.

    Output: ``(<key>, sig: array<bigint>)`` where key is ``id_col`` if
    given (signature computed over ``name_col`` text) else ``name_col``.
    """
    key = id_col or name_col
    key_type = "string"
    if id_col is not None:
        key_type = dict(names.dtypes)[id_col]
    schema = f"{key} {key_type}, sig array<long>"
    sel = names.select(key, name_col) if id_col else names.select(name_col).distinct()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            norm = (
                pdf[name_col].astype("string").fillna("")
                .str.lower().str.replace(r"[^\w]", "", regex=True)
            )
            sigs = minhash_matrix(norm.tolist(), n_perm, k, seed)
            yield pd.DataFrame({key: pdf[key], "sig": list(sigs)})

    return sel.mapInPandas(fn, schema)


def hash_shingle(s: str, seed: int) -> int:
    """FNV-1a 64-bit (Python ints, masked — intentional wraparound)."""
    h = 1469598103934665603 ^ seed
    for ch in s.encode():
        h = ((h ^ ch) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h


def lsh_candidate_pairs(
    signatures: DataFrame,
    name_col: str = "name",
    n_bands: int = 8,
    max_bucket: int = 50,
) -> DataFrame:
    """B7 steps 2-3: band signatures → bucket → intra-bucket pairs.

    Output: ``(a, b)`` candidate pairs with a < b. Buckets larger than
    ``max_bucket`` are dropped (skew cap; see module docstring).
    """
    n_perm_col = F.size("sig")
    rows_per_band = (n_perm_col / n_bands).cast("int")
    banded = signatures.select(
        F.col(name_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band), b
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(name_col, "bb.band", "bb.bucket")

    sized = banded.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "bucket"))
    )
    # intra-bucket pairs via collect_list + combination expansion in ONE
    # plan: the groupBy rides the window's (band, bucket) partitioning —
    # no second corpus exchange, no self-join, no checkpoint (the old
    # checkpoint + broadcast self-join + dedup shape cost 3 extra
    # materializations; the executed plan here shows exactly 2 Exchanges
    # total: the banding shuffle and the final pair dedup). The
    # bucket_n <= max_bucket filter runs BEFORE collect_list, so no
    # aggregation row ever exceeds max_bucket ids (degenerate stop-
    # buckets never materialize as arrays). least/greatest normalizes
    # pair order (ids within a bucket are distinct).
    ok = sized.where(F.col("bucket_n") <= max_bucket).drop("bucket_n")
    grp = (
        ok.groupBy("band", "bucket")
        .agg(F.collect_list(name_col).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    return (
        grp.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(least(x, y) as a, greatest(x, y) as b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .dropDuplicates(["a", "b"])
    )


def exact_jaccard_filter(
    pairs: DataFrame, threshold: float = 0.5, k: int = 3, seed: int = 42
) -> DataFrame:
    """B7 step 4: verify candidates with exact shingle Jaccard.

    Each *distinct name* is shingled exactly once (hashed char-k-shingle
    arrays via :func:`kgforge.textops.char_shingle_table` — same FNV
    values as :func:`hash_shingle`); candidate pairs then verify with a
    JVM ``array_intersect`` join. This replaces the per-pair Python set
    recomputation (each name used to be re-shingled once per pair it
    appeared in) with the same per-doc-once + codegen-verify shape the
    document dedup path uses (textops.exact_char_jaccard_pairs).
    Jaccard over the hashed arrays equals Jaccard over the string sets,
    FNV collisions aside (none observed; values are 64-bit).
    """
    from ..textops import char_shingle_table

    # referenced three times below (a-names, b-names, join base): pin the
    # candidate set once or every reference re-runs the upstream LSH plan
    # (bucket-capped, so this is always small relative to the corpus)
    pairs = pairs.select("a", "b").localCheckpoint(eager=False)
    names = (
        pairs.select(F.col("a").alias("name"))
        .union(pairs.select(F.col("b").alias("name")))
        .distinct()
        .withColumn("_text", F.col("name"))
    )
    # referenced twice (a-side and b-side joins): localCheckpoint so the
    # mapInPandas shingling runs once, not per downstream reference
    sh = char_shingle_table(names, k=k, seed=seed, id_col="name", text_col="_text").localCheckpoint(eager=False)
    a = sh.select(F.col("name").alias("a"), F.col("shingles").alias("_sa"))
    b = sh.select(F.col("name").alias("b"), F.col("shingles").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    return (
        pairs.select("a", "b")
        .join(a, "a")
        .join(b, "b")
        .withColumn(
            "jaccard", inter / (F.size("_sa") + F.size("_sb") - inter).cast("double")
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def alias_pairs(
    names: DataFrame,
    name_col: str = "name",
    n_perm: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 50,
) -> DataFrame:
    """Full B7: names → verified near-duplicate alias pairs (a, b, jaccard)."""
    sigs = minhash_signatures(names, name_col, n_perm)
    cands = lsh_candidate_pairs(sigs, name_col, n_bands, max_bucket)
    return exact_jaccard_filter(cands, threshold)


def _alias_pairs_driver(
    name_list: list,
    n_perm: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 50,
    k: int = 3,
    seed: int = 42,
) -> list[tuple[str, str, float]]:
    """Driver-side replica of :func:`alias_pairs` for a dictionary-scale
    name list: the same :func:`minhash_matrix` signatures, band slicing,
    ``max_bucket`` cap and exact-shingle-Jaccard verify, as ``(a, b,
    jaccard)`` rows with ``a < b``. Bucket identity uses the raw
    band-slice bytes (the JVM path hashes the slice with xxhash64 — same
    row partition, hash collisions aside); the verify uses raw string
    shingle sets (equal to the hashed-array Jaccard the JVM path
    computes, FNV collisions aside)."""
    import re as _re

    from collections import defaultdict

    names_sorted = [s for s in name_list if s is not None]
    if not names_sorted:
        return []
    norm = [_re.sub(r"[^\w]", "", s.lower()) for s in names_sorted]
    sigs = minhash_matrix(norm, n_perm, k, seed)
    rpb = n_perm // n_bands
    cand: set = set()
    for b in range(n_bands):
        buckets: dict = defaultdict(list)
        sl = sigs[:, b * rpb:(b + 1) * rpb]
        for i in range(len(names_sorted)):
            buckets[sl[i].tobytes()].append(i)
        for grp in buckets.values():
            if len(grp) > max_bucket:
                continue
            for x in range(len(grp)):
                for y in range(x + 1, len(grp)):
                    p, q = names_sorted[grp[x]], names_sorted[grp[y]]
                    if p != q:
                        cand.add((p, q) if p < q else (q, p))
    shingles: dict = {}

    def _sh(s: str) -> set:
        if s not in shingles:
            ns = _re.sub(r"[^\w]", "", s.lower())
            shingles[s] = {ns[j:j + k] for j in range(max(1, len(ns) - k + 1))}
        return shingles[s]

    rows = []
    for a, b in sorted(cand):
        sa, sb = _sh(a), _sh(b)
        inter = len(sa & sb)
        j = float(inter) / float(len(sa) + len(sb) - inter)
        if j >= threshold:
            rows.append((a, b, j))
    return rows


def _unionfind_components(edges) -> dict:
    """Driver-side union-find over a SMALL ``(a, b)`` edge iterable:
    ``{node: component}`` with component = min member — the same labels
    as :func:`connected_components`, exact by construction."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    return {node: comp_min[find(node)] for node in parent}


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """B8: hash-min CC over ``(a, b)`` string/long edges.

    Returns ``(node, component)`` where component = min node in the
    component (total order of the node type). Pure DataFrame iteration,
    ``localCheckpoint`` per round. ``stats`` (optional dict) receives
    ``{"rounds": n}`` on convergence — the bench/cc_scale.py evidence
    hook for the O(diameter)-vs-O(log n) round-count comparison.
    """
    # localCheckpoint: sym is re-joined EVERY round — without it each
    # iteration re-executes the entire upstream edge plan (at the
    # pipeline call site that plan is LSH + shingle verify over the
    # extracted corpus; measured 5.7s → 1.3s on 362 edges at sf0.1, and
    # the recompute would scale with corpus size, not component count)
    sym = (
        edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(edges.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("x").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    from pyspark.sql import Observation

    labels = labels.localCheckpoint()
    for i in range(max_iter):
        # candidate label for each node: min over self + neighbors' labels
        neigh = (
            sym.join(labels.withColumnRenamed("node", "y"), "y")
            .select(F.col("x").alias("node"), "component")
        )
        # convergence test rides the SAME job as the round's checkpoint:
        # joining the old label in and observing sum(component != old)
        # during materialization halves the per-round job count (the
        # separate changed-count job was half the CC wall at small |E|)
        obs = Observation(f"cc_round_{i}")
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .join(labels.select("node", F.col("component").alias("_old")), "node")
            .observe(
                obs,
                # coalesce: sum over an EMPTY label set is NULL, and
                # None == 0 is False — an empty edge input would loop to
                # exhaustion and raise instead of converging immediately
                F.coalesce(
                    F.sum((F.col("component") != F.col("_old")).cast("long")), F.lit(0)
                ).alias("changed"),
            )
            .select("node", "component")
        ).localCheckpoint()
        labels = new_labels
        if obs.get["changed"] == 0:
            if stats is not None:
                stats["rounds"] = i + 1
            return labels
    # silent wrong labels are worse than a loud failure: hash-min needs
    # O(diameter) rounds — deep graphs should use connected_components_star
    raise RuntimeError(
        f"hash-min CC did not converge in {max_iter} rounds "
        "(graph diameter too large — use connected_components_star)"
    )


def connected_components_star(
    edges: DataFrame, max_iter: int = 25, stats: dict | None = None
) -> DataFrame:
    """B8 scale variant: alternating big-star/small-star CC
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm).

    Hash-min label propagation (:func:`connected_components`) needs
    O(diameter) rounds — fine for shallow alias graphs, quadratic work
    on long chains. The star algorithm contracts paths aggressively and
    converges in O(log n) rounds on any topology:

    * large-star: per node u, attach every *strictly larger* neighbor to
      m = min(Γ(u) ∪ {u});
    * small-star: attach every neighbor ≤ u (and u itself) to m.

    Both steps are one groupBy(u) aggregation + one generate — the same
    shuffle shape as hash-min, but the round count drops from diameter
    to log. Returns ``(node, component)``, identical to hash-min (tests
    assert equality on chains, cycles, and random graphs).
    """
    # symmetric, self-loop-free working edge set
    e = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = e.select(F.col("u").alias("node")).distinct().localCheckpoint()

    def _star(cur: DataFrame, large: bool) -> DataFrame:
        grouped = (
            cur.groupBy("u")
            .agg(F.collect_set("v").alias("nbrs"))
            .withColumn("m", F.least(F.col("u"), F.array_min("nbrs")))
        )
        src = F.explode(
            F.filter("nbrs", lambda v: v > F.col("u"))
            if large
            else F.array_union(F.filter("nbrs", lambda v: v <= F.col("u")), F.array(F.col("u")))
        )
        return (
            grouped.select(src.alias("x"), F.col("m"))
            .where(F.col("x") != F.col("m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
        )

    n_e = e.count()
    converged = False
    for _round in range(max_iter):
        # one large-star + one small-star round over the symmetric view
        ls = _star(e, large=True)
        sym_ls = ls.union(ls.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
        ss = _star(sym_ls, large=False)
        new_e = (
            ss.union(ss.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # converged when the edge SET is a fixpoint. The test must be
        # symmetric: a one-direction exceptAll misses rounds that only
        # REMOVE edges (new_e ⊊ e) — equal count + empty one-direction
        # diff together imply set equality (both are distinct sets).
        n_new = new_e.count()
        changed = (n_new != n_e) or new_e.exceptAll(e).limit(1).count() > 0
        e, n_e = new_e, n_new
        if not changed:
            converged = True
            if stats is not None:
                stats["rounds"] = _round + 1
            break
    if not converged:
        # silent wrong labels are worse than a loud failure (same
        # contract as connected_components)
        raise RuntimeError(f"star CC did not converge in {max_iter} rounds")
    roots = e.groupBy("u").agg(F.min("v").alias("component"))
    return (
        nodes.join(roots.withColumnRenamed("u", "node"), "node", "left")
        .withColumn("component", F.least(F.coalesce("component", "node"), F.col("node")))
    )


def canonical_groups(names: DataFrame, name_col: str = "name", **lsh_kw) -> DataFrame:
    """B7+B8: names → ``(name, component)`` alias groups. Singletons keep
    themselves as component."""
    pairs = alias_pairs(names, name_col, **lsh_kw)
    cc = connected_components(pairs.select("a", "b"))
    return (
        names.select(F.col(name_col).alias("name")).distinct()
        .join(cc.withColumnRenamed("node", "name"), "name", "left")
        .withColumn("component", F.coalesce("component", "name"))
    )


def alias_map(names: DataFrame, gazmap: DataFrame, threshold: float = 0.5) -> DataFrame:
    """B7+B8 with gazetteer anchoring: ``names(name)`` + ``gazmap(surface,
    canonical)`` → ``alias_map(surface, canonical)``.

    Gazetteer canonicals act as anchors: candidate pairs that would
    merge two *different* known canonicals are dropped (supervised
    anchoring), every component maps to its (min) anchored canonical,
    then to the name's own gazetteer canonical, then to the component
    (its min surface) — so unseen alias variants ride along with known
    groups. :func:`alias_map_driver` is the same map computed on the
    driver for a dictionary-scale name list.
    """
    pairs = alias_pairs(names, threshold=threshold)
    a_can = gazmap.select(F.col("surface").alias("a"), F.col("canonical").alias("_ca"))
    b_can = gazmap.select(F.col("surface").alias("b"), F.col("canonical").alias("_cb"))
    anchored = (
        pairs.join(F.broadcast(a_can), "a", "left")
        .join(F.broadcast(b_can), "b", "left")
        .where(
            F.col("_ca").isNull() | F.col("_cb").isNull() | (F.col("_ca") == F.col("_cb"))
        )
        .select("a", "b")
    )
    cc = connected_components(anchored)
    # component -> min known canonical (if any anchor in component)
    comp_canon = (
        cc.join(gazmap.withColumnRenamed("surface", "node"), "node", "left")
        .groupBy("component")
        .agg(F.min("canonical").alias("anchor_canonical"))
    )
    return (
        names.join(cc.withColumnRenamed("node", "name"), "name", "left")
        .withColumn("component", F.coalesce("component", "name"))
        .join(F.broadcast(comp_canon), "component", "left")
        # fallback chain: anchored canonical > own gazetteer canonical > min surface in component
        .join(F.broadcast(gazmap.withColumnRenamed("surface", "name").withColumnRenamed("canonical", "_own")), "name", "left")
        .withColumn("canonical", F.coalesce("anchor_canonical", "_own", "component"))
        .select(F.col("name").alias("surface"), "canonical")
    )


def alias_map_driver(
    universe: list[tuple[str | None, str | None]], threshold: float = 0.5
) -> list[tuple[str | None, str | None]]:
    """:func:`alias_map` on the driver for a dictionary-scale universe of
    distinct ``(name, own gazetteer canonical or None)`` rows: alias
    pairs by :func:`_alias_pairs_driver`, the same anchor filter,
    union-find components and fallback chain. Returns ``(surface,
    canonical)`` rows in universe order; identical to the distributed
    map's rows (a null name never joins, so it maps to null)."""
    own = {n: c for n, c in universe if n is not None and c is not None}
    anchored = (
        (a, b) for a, b, _ in _alias_pairs_driver([n for n, _ in universe], threshold=threshold)
        if a not in own or b not in own or own[a] == own[b]
    )
    comp = _unionfind_components(anchored)
    anchor: dict = {}
    for node, c in comp.items():
        can = own.get(node)
        if can is not None and (c not in anchor or can < anchor[c]):
            anchor[c] = can
    rows = []
    for name, _ in universe:
        c = comp.get(name, name)
        can = anchor.get(c)
        if can is None:
            can = own.get(name, c)
        rows.append((name, can))
    return rows
