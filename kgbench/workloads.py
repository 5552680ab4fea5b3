"""The benchmark workloads: closed loops with one client.

Each workload has an untimed ``prepare`` (tables and reference results
built from the generated inputs), a timed ``op`` (one closed-loop
operation; the next starts when it returns), and an untimed ``check`` of
that operation's outputs. Output checks never run inside the timed
section.

There is no warm-up. The first op pays codegen, JIT compilation and the
Python workers' start, as every ``spark-submit`` of the same job does;
warming up would cost a second pass of each job's ~100 fixed-cost Spark
jobs in every benchmark run.

Each ``op`` returns a list of sub-operation records ``{"name", "wall_s",
...}``; a check returns the names of the sub-operations it failed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from kgforge import evaluate, graphstats, incremental, textops, training
from kgforge.catalog import IcebergLiteTable
from kgforge.pipeline import Pipeline

from . import inputs

PIPELINE_STAGES = list(Pipeline.STAGES)


def _parquet_rows(path: str) -> int:
    """Row count from Parquet footers (no Spark job); ``path`` is a
    Parquet file or a directory of them."""
    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    n = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(dirpath, f)).num_rows
    return n


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class Construct:
    """Full seven-stage rebuild of a transcript corpus, then ``appends``
    small append commits, each folded into the running KG by
    ``incremental.incremental_build``."""

    layers = PIPELINE_STAGES + ["catalog.append", "incremental.build"]
    ratios = [
        "extract.yield",
        "link.yield",
        "materialize.dedup_ratio",
        "materialize.partition_skew",
    ]
    size = {"n_turns": 17000, "n_batches": 6, "batch_turns": 800}
    appends = 2

    def __init__(self, spark, tracer, root: str, seed: int, tmp: str, nproc: int):
        self.spark, self.tracer, self.tmp, self.nproc = spark, tracer, tmp, nproc
        self.dir = inputs.ensure(root, "corpus", seed, self.size)
        self.gaz_path = os.path.join(self.dir, "gazetteer.parquet")
        self.pat_path = os.path.join(self.dir, "patterns.parquet")
        self.n_ops = 0
        self.next_batch = 0

    # -- prepare -------------------------------------------------------------

    def prepare(self) -> None:
        spark = self.spark
        self.gaz_pdf = pd.read_parquet(self.gaz_path)
        self.pat_pdf = pd.read_parquet(self.pat_path)
        self.gaz = spark.createDataFrame(self.gaz_pdf).localCheckpoint()
        # dense ids ordered by name, as materialize.dense_ids assigns them
        self.e2id = _dense_ids(spark, self.gaz_pdf["canonical"])
        self.r2id = _dense_ids(spark, self.pat_pdf["pred"])
        base = os.path.join(self.dir, "base")
        self.golden = pd.read_parquet(os.path.join(base, "golden_triples.parquet"))
        src = pd.read_parquet(os.path.join(base, "transcripts.parquet"))
        self.src_text = src.sort_values(["conv_id", "turn_idx"])["text"].to_numpy()
        # the catalog table starts from an empty base commit, folded into
        # an empty KG; every timed append is then folded in incrementally
        self.table = IcebergLiteTable(os.path.join(self.tmp, "table"))
        self.table.append(spark.read.parquet(os.path.join(base, "transcripts.parquet")).limit(0))
        self.snap = self.table.current_snapshot_id()
        self.kg = spark.createDataFrame([], "s long, p long, o long")

    # -- operations ----------------------------------------------------------

    def _append(self, path: str) -> None:
        batch = self.spark.read.parquet(path)
        with self.tracer.span("catalog.append"):
            self.table.append(batch)
        with self.tracer.span("incremental.build"):
            self.kg = incremental.incremental_build(
                self.spark, self.table, self.snap, self.kg,
                self.gaz_pdf, self.pat_pdf, self.gaz, self.e2id, self.r2id,
            ).localCheckpoint()
        self.snap = self.table.current_snapshot_id()

    def _bulk(self, work: str) -> Pipeline:
        pipe = Pipeline(
            self.spark,
            input_path=os.path.join(self.dir, "base", "transcripts.parquet"),
            work_dir=work,
            gazetteer_path=self.gaz_path,
            patterns_path=self.pat_path,
            out_partitions=self.nproc,
            dense_ids_impl="two_phase",
        )
        if self.tracer.enabled:
            for stage in PIPELINE_STAGES:
                with self.tracer.span(stage):
                    pipe.run([stage])
        else:
            pipe.run()
        return pipe

    def can_continue(self) -> bool:
        """Another op needs ``appends`` unused batches."""
        return self.size["n_batches"] - self.next_batch >= self.appends

    def op(self) -> list[dict]:
        self.span0 = len(self.tracer.spans) if self.tracer.enabled else None
        work = os.path.join(self.tmp, f"work{self.n_ops}")
        pipe, wall = _timed(lambda: self._bulk(work))
        subs = [{
            "name": "bulk", "wall_s": wall, "work": work, "pipe": pipe,
            "turns": pipe.manifest.get("reassemble")["row_count"],
            "triples": pipe.manifest.get("extract")["row_count"],
        }]
        for _ in range(self.appends):
            bdir = os.path.join(self.dir, f"batch{self.next_batch:03d}", "transcripts.parquet")
            self.next_batch += 1
            _, wall = _timed(lambda: self._append(bdir))
            subs.append({"name": "append", "wall_s": wall, "turns": _parquet_rows(bdir)})
        self.n_ops += 1
        return subs

    # -- checks --------------------------------------------------------------

    def check(self, subs: list[dict]) -> list[str]:
        bulk = subs[0]
        work, pipe = bulk.pop("work"), bulk.pop("pipe")
        failed = []
        try:
            if not (self._pr_ok(work) and self._text_ok(work)):
                failed.append("bulk")
            if self.span0 is not None:
                self._bulk_ratios(work, pipe)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return failed

    def _pr_ok(self, work: str) -> bool:
        """Emitted (s, p, o) precision and recall >= 0.95 against the
        generator's golden triples, mapped through the exported dicts."""
        exp = os.path.join(work, "materialize", "openke")
        ent, rel = _read_dict(exp, "entity2id.txt"), _read_dict(exp, "relation2id.txt")
        want = {
            (ent[s], rel[p], ent[o])
            for s, p, o in self.golden[["subj_canon", "pred", "obj_canon"]]
            .drop_duplicates().itertuples(index=False)
        }
        with open(os.path.join(exp, "train2id.txt")) as f:
            got = {(h, r, t) for h, t, r in (map(int, ln.split()) for ln in f.readlines()[1:])}
        tp = len(got & want)
        return bool(got) and tp / len(got) >= 0.95 and tp / len(want) >= 0.95

    def _text_ok(self, work: str) -> bool:
        """Reassembled per-turn text equals the input, in stable order."""
        got = pd.read_parquet(os.path.join(work, "reassemble"),
                              columns=["conv_id", "turn_idx", "turn_rank", "text"])
        got = got.sort_values(["conv_id", "turn_idx"])
        return (
            len(got) == len(self.src_text)
            and bool((got["text"].to_numpy() == self.src_text).all())
            and bool((got["turn_rank"] == got["turn_idx"] + 1).all())
        )

    def _bulk_ratios(self, work: str, pipe: Pipeline) -> None:
        """Counts and ratios for the last traced op's stage spans."""
        spans = {s["layer"]: s for s in self.tracer.spans[self.span0:self.span0 + len(PIPELINE_STAGES)]}
        turns = pipe.manifest.get("reassemble")["row_count"]
        triples = pipe.manifest.get("extract")["row_count"]
        linked = _parquet_rows(os.path.join(work, "link"))
        mat = pipe.manifest.get("materialize")
        parts = list(mat["extra"]["lineage"]["partitions"].values())
        spans["extract"]["yield"] = triples / turns
        spans["link"]["yield"] = linked / triples
        spans["materialize"]["dedup_ratio"] = mat["row_count"] / linked
        spans["materialize"]["partition_skew"] = max(parts) / (sum(parts) / len(parts))

    def finish(self) -> list[str]:
        """The incrementally folded KG must be hash-equal to a full
        ``build_triples`` over the whole table."""
        full = incremental.build_triples(
            self.table.read(self.spark), self.gaz_pdf, self.pat_pdf,
            self.gaz, self.e2id, self.r2id,
        )
        return [] if _set_hash(self.kg) == _set_hash(full) else ["append"]

    def details(self, subs: list[dict]) -> dict:
        """The workload's own figures, beside the end-to-end metrics."""
        bulk = [s for s in subs if s["name"] == "bulk"]
        app = [s for s in subs if s["name"] == "append"]
        out = {
            "triples_per_s": (sum(s["triples"] for s in bulk) / sum(s["wall_s"] for s in bulk), "1/s"),
            "bulk_wall_p50_s": (statistics.median([s["wall_s"] for s in bulk]), "s"),
        }
        if app:
            lat = [s["wall_s"] for s in app]
            out["append_latency_p50_s"] = (statistics.median(lat), "s")
            pct, val = _tail(lat)
            out["append_latency_tail_s"] = (val, f"s (p{pct}, n={len(lat)})")
            out["appended_turns_per_s"] = (sum(s["turns"] for s in app) / sum(lat), "1/s")
        return out

    def records(self, subs: list[dict]) -> int:
        return sum(s["turns"] for s in subs)


def _dense_ids(spark, names: pd.Series):
    """``(name, id)`` with ids 0..n-1 in name order."""
    names = sorted(set(names))
    return spark.createDataFrame(
        pd.DataFrame({"name": names, "id": range(len(names))}), "name string, id long"
    ).localCheckpoint()


def _read_dict(exp: str, name: str) -> dict[str, int]:
    with open(os.path.join(exp, name)) as f:
        return {k: int(v) for k, v in (ln.rstrip("\n").split("\t") for ln in f.readlines()[1:])}


def _set_hash(df) -> str:
    rows = sorted(tuple(r) for r in df.select("s", "p", "o").collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _tail(xs: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least ten samples beyond it
    (the median when there are fewer than 20 samples), and its value."""
    n = len(xs)
    pct = 50
    for p in range(99, 49, -1):
        if n * (100 - p) / 100 >= 10:
            pct = p
            break
    return pct, float(np.percentile(xs, pct))


class Analytics:
    """The reference's own capability on a generated KG split (PageRank,
    distributed training, filtered link-prediction ranks) and corpus
    near-duplicate detection on generated documents."""

    layers = [
        "graphstats.pagerank",
        "training.train_distributed",
        "evaluate.ranks",
        "textops.ngram_jaccard_pairs",
        "textops.minhash_neardup_docs",
        "textops.tfidf_top_terms",
    ]
    ratios = [
        "graphstats.pagerank.jobs_per_iter",
        "training.train_distributed.jobs_per_round",
        "textops.ngram_jaccard_pairs.df_cap_dropped",
        "textops.minhash_neardup_docs.planted_recall",
    ]
    size = {"n_ent": 5000, "n_train": 20000, "n_test": 200, "n_docs": 1200, "dup_frac": 0.05}
    n_rel = 12
    pagerank_iters = 3
    rounds, epochs = 2, 2
    rank_sample = 20
    #: ``training.train_distributed`` packs ``(seed * 31 + shard) *
    #: 2654435761`` into a uint64 and raises ``OverflowError`` for seeds
    #: of about 2.2e8 and up, so its RNG seed is the run seed folded into
    #: 16 bits (the inputs themselves are generated from the full seed)
    train_seed_mod = 1 << 16

    def __init__(self, spark, tracer, root: str, seed: int, tmp: str, nproc: int):
        self.spark, self.tracer, self.nproc, self.seed = spark, tracer, nproc, seed
        self.dir = inputs.ensure(root, "analytics", seed, self.size)

    def prepare(self) -> None:
        d = self.dir
        self.train_pdf = pd.read_parquet(os.path.join(d, "train.parquet"))
        self.test_pdf = pd.read_parquet(os.path.join(d, "test.parquet"))
        self.docs_pdf = pd.read_parquet(os.path.join(d, "documents.parquet"))
        self.planted = set(
            map(tuple, pd.read_parquet(os.path.join(d, "planted.parquet"))[["a", "b"]].to_numpy().tolist())
        )
        self.want_pairs = _duckdb_trigram_pairs(self.docs_pdf, 0.5)
        self.want_tfidf_rows = _tfidf_rows(self.docs_pdf, 10)
        known = pd.concat([self.train_pdf, self.test_pdf])
        self.known_heads = {k: set(g["h"]) for k, g in known.groupby(["r", "t"])}
        self.known_tails = {k: set(g["t"]) for k, g in known.groupby(["r", "h"])}
        rng = np.random.default_rng(self.seed)
        self.sample = rng.choice(len(self.test_pdf), size=self.rank_sample, replace=False)
        if self.tracer.enabled:
            self.df_cap_dropped = textops.ngram_df_capped_stats(
                self._docs(d), n=3, df_cap=100
            )["n_dropped"]

    def can_continue(self) -> bool:
        return True

    def _docs(self, d: str):
        return self.spark.read.parquet(os.path.join(d, "documents.parquet"))

    def op(self) -> list[dict]:
        spark, tr, d, n_ent = self.spark, self.tracer, self.dir, self.size["n_ent"]
        train = spark.read.parquet(os.path.join(d, "train.parquet"))
        test = spark.read.parquet(os.path.join(d, "test.parquet"))
        known = train.unionByName(test)
        docs = self._docs(d)
        n_train, n_test, n_docs = (
            _parquet_rows(os.path.join(d, f"{t}.parquet")) for t in ("train", "test", "documents")
        )
        subs = []
        self.span0 = len(tr.spans) if tr.enabled else None

        def sub(name, layer, fn):
            with tr.span(layer):
                out, wall = _timed(fn)
            subs.append({"name": name, "wall_s": wall, "out": out})
            return out

        sub("pagerank", "graphstats.pagerank",
            lambda: graphstats.pagerank(train, n_iter=self.pagerank_iters).toPandas())
        emb = sub("train", "training.train_distributed",
                  lambda: training.train_distributed(
                      spark, train, n_ent, self.n_rel, dim=16, rounds=self.rounds,
                      epochs_per_round=self.epochs, n_shards=self.nproc,
                      seed=self.seed % self.train_seed_mod))

        def ranks():
            r = evaluate.link_prediction_ranks_relfilter(spark, test, emb, known).localCheckpoint()
            return r.toPandas(), evaluate.link_prediction_metrics(r).toPandas()

        sub("ranks", "evaluate.ranks", ranks)
        sub("ngram", "textops.ngram_jaccard_pairs",
            lambda: textops.ngram_jaccard_pairs(docs, n=3, threshold=0.5, df_cap=100).toPandas())
        sub("minhash", "textops.minhash_neardup_docs",
            lambda: textops.minhash_neardup_docs(docs, threshold=0.5).toPandas())
        sub("tfidf", "textops.tfidf_top_terms",
            lambda: textops.tfidf_top_terms(docs).toPandas())
        counts = {"pagerank": n_train, "train": n_train * self.rounds * self.epochs,
                  "ranks": n_test, "ngram": n_docs, "minhash": n_docs, "tfidf": n_docs}
        for s in subs:
            s["records"] = counts[s["name"]]
        if self.span0 is not None:
            spans = tr.spans[self.span0:]
            spans[0]["jobs_per_iter"] = spans[0]["jobs"] / self.pagerank_iters
            spans[1]["jobs_per_round"] = spans[1]["jobs"] / self.rounds
        return subs

    def check(self, subs: list[dict]) -> list[str]:
        out = {s["name"]: s.pop("out") for s in subs}
        failed = []
        pr = out["pagerank"]
        if not (len(pr) > 0 and abs(float(pr["rank"].sum()) - 1.0) <= 1e-5):
            failed.append("pagerank")
        emb = out["train"]
        if not all(np.isfinite(emb[k]).all() for k in ("ent", "rel")):
            failed.append("train")
        ranks, metrics = out["ranks"]
        if not (len(ranks) == len(self.test_pdf) and self._ranks_match(ranks, emb)
                and 0 < float(metrics["mrr_filt"].iloc[0]) <= 1):
            failed.append("ranks")
        ng = out["ngram"]
        got = {(int(a), int(b)): j for a, b, j in ng[["a", "b", "jaccard"]].itertuples(index=False)}
        if got.keys() != self.want_pairs.keys() or any(
            abs(got[k] - self.want_pairs[k]) > 1e-12 for k in got
        ) or not self.planted <= got.keys():
            failed.append("ngram")
        mh = out["minhash"]
        found = set(zip(mh["a"].astype(int), mh["b"].astype(int)))
        recall = len(self.planted & found) / len(self.planted)
        if recall < 0.9 or not (mh["jaccard"] >= 0.5).all():
            failed.append("minhash")
        tf = out["tfidf"]
        if not tf.groupby("doc_id").size().sort_index().equals(self.want_tfidf_rows):
            failed.append("tfidf")
        if self.span0 is not None:
            spans = self.tracer.spans[self.span0:]
            spans[3]["df_cap_dropped"] = self.df_cap_dropped
            spans[4]["planted_recall"] = recall
        return failed

    def _ranks_match(self, ranks: pd.DataFrame, emb: dict) -> bool:
        """Filtered and raw ranks of a seeded sample of test triples,
        recomputed with NumPy (TransE, L1) from the trained embeddings."""
        ent = emb["ent"].astype(np.float64)
        rel = emb["rel"].astype(np.float64)
        idx = ranks.set_index(["h", "t", "r"])
        for i in self.sample:
            h, t, r = (int(x) for x in self.test_pdf.iloc[int(i)][["h", "t", "r"]])
            s_head = np.abs(ent + rel[r] - ent[t]).sum(axis=1)
            s_tail = np.abs(ent[h] + rel[r] - ent).sum(axis=1)
            want = []
            for s, true, known in (
                (s_head, h, self.known_heads.get((r, t), set())),
                (s_tail, t, self.known_tails.get((r, h), set())),
            ):
                better = s < s[true]
                skip = [e for e in known if e != true and better[e]]
                want += [1 + int(better.sum()), 1 + int(better.sum()) - len(skip)]
            row = idx.loc[(h, t, r)]
            got = [int(row["rank_head_raw"]), int(row["rank_head_filt"]),
                   int(row["rank_tail_raw"]), int(row["rank_tail_filt"])]
            if got != want:
                return False
        return True

    def finish(self) -> list[str]:
        return []

    def details(self, subs: list[dict]) -> dict:
        def rate(name):
            xs = [s for s in subs if s["name"] == name]
            return sum(s["records"] for s in xs) / sum(s["wall_s"] for s in xs)

        dedup = [s for s in subs if s["name"] in ("ngram", "minhash", "tfidf")]
        n_docs = sum(s["records"] for s in dedup if s["name"] == "ngram")
        return {
            "pagerank_s": (statistics.median([s["wall_s"] for s in subs if s["name"] == "pagerank"]), "s"),
            "train_triples_per_s": (rate("train"), "1/s"),
            "rank_triples_per_s": (rate("ranks"), "1/s"),
            "dedup_docs_per_s": (n_docs / sum(s["wall_s"] for s in dedup), "1/s"),
        }

    def records(self, subs: list[dict]) -> int:
        return sum(s["records"] for s in subs)


def _duckdb_trigram_pairs(docs: pd.DataFrame, threshold: float) -> dict:
    """Exact word-3-gram Jaccard pairs (a < b, J >= threshold) in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("docs", docs[["doc_id", "text"]])
        rows = con.execute(
            """
            WITH toks AS (
              SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
              FROM docs),
            idx AS (
              SELECT doc_id, w, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i FROM toks),
            grams AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i + 2], ' ') AS g FROM idx),
            sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            common AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
              FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
              GROUP BY 1, 2)
            SELECT a, b, c::DOUBLE / (sa.n + sb.n - c) AS j
            FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
            WHERE c::DOUBLE / (sa.n + sb.n - c) >= ?
            """,
            [threshold],
        ).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)): float(j) for a, b, j in rows}


def _tfidf_rows(docs: pd.DataFrame, k: int) -> pd.Series:
    """Expected top-k row count per document: min(k, distinct terms)."""
    n = docs.set_index("doc_id")["text"].str.lower().str.findall(r"[a-z0-9]+").map(
        lambda ts: min(k, len(set(ts)))
    )
    return n[n > 0].sort_index().rename(None)


#: every traced layer and ratio, in report order
LAYERS = ["session.setup"] + Construct.layers + Analytics.layers
RATIOS = Construct.ratios + Analytics.ratios
