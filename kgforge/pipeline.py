"""Stage DAG + spark-submit entry (SURVEY.md §3.4).

``transcripts → reassemble (B1) → extract (B2/B3) → canonicalize (B7/B8)
→ dicts (B9) → link (B4–B6) → materialize (B10) → evaluate (B12)``

Each stage is a pure DataFrame → DataFrame function wrapped with:
read inputs → build plan → execute → write parquet + ``_SUCCESS`` →
manifest commit (B11). ``--resume`` skips stages whose manifest entry
matches the current input fingerprint; changing any upstream output
invalidates everything downstream automatically (the fingerprint of a
stage includes its input stage's output listing).

Job budget. At small and medium inputs the run is dominated by fixed
per-job cost, not row work, so every stage aims at one Spark job per
table it really reads or writes:

* Dictionary-scale stages run on the driver below :data:`DRIVER_GATE`
  names. ``canonicalize`` collects its name universe once and computes
  alias pairs, anchoring, union-find components and the ``entities``
  rollup in Python; ``dicts`` enumerates sorted distinct names as dense
  ids. Above the gate the distributed chains run unchanged. Outputs are
  identical either way.
* A Parquet output written by this :class:`Pipeline` instance keeps its
  schema, and later reads of it pass that schema: a schema-less
  ``spark.read.parquet`` costs one inference job. External inputs, and
  outputs of stages skipped on resume, are read with inference.
* No stage sets a Spark job group or description: callers (the
  benchmark's tracer, a scheduler) own those to attribute jobs.

Launch: ``spark-submit --py-files kgforge.zip run_pipeline.py ...``.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import fixtures, io_openke
from .manifest import Manifest, fingerprint_config, fingerprint_paths
from .session import tiny_df
from .stages import canonicalize as canon
from .stages import extract, link, materialize, reassemble

#: a dictionary-scale table (alias universe, dictionary source) with at
#: most this many rows is computed on the driver; above it the stage's
#: distributed chain runs
DRIVER_GATE = 10_000

ALIAS_MAP_SCHEMA = StructType(
    [StructField("surface", StringType()), StructField("canonical", StringType())]
)
ENTITIES_SCHEMA = StructType(
    [
        StructField("canonical", StringType()),
        StructField("aliases", ArrayType(StringType(), False), False),
    ]
)
DENSE_IDS_SCHEMA = StructType(
    [StructField("name", StringType()), StructField("id", LongType(), False)]
)


def _nulls_first(x):
    """Sort key matching Spark's ascending string order: nulls first,
    then code-point order (equal to Spark's UTF-8 binary order)."""
    return (x is not None, x or "")


class Pipeline:
    STAGES = ["reassemble", "extract", "canonicalize", "dicts", "link", "materialize", "evaluate"]

    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        work_dir: str,
        gazetteer_path: str,
        patterns_path: str,
        model: str = "transe",
        norm: int = 1,
        out_partitions: int = 16,
        resume: bool = False,
        embeddings_seed: int = 42,
        dense_ids_impl: str = "sort",
        embeddings_path: str | None = None,
        bucket_table: str | None = None,
        export_ntriples: bool = False,
    ):
        self.spark = spark
        self.input_path = input_path
        self.work = work_dir
        self.gazetteer_path = gazetteer_path
        self.patterns_path = patterns_path
        self.model = model
        self.norm = norm
        self.out_partitions = out_partitions
        self.resume = resume
        self.embeddings_seed = embeddings_seed
        self.embeddings_path = embeddings_path
        self.bucket_table = bucket_table
        self.export_ntriples = export_ntriples
        if dense_ids_impl not in ("sort", "two_phase"):
            raise ValueError(dense_ids_impl)
        self.dense_ids_impl = dense_ids_impl
        os.makedirs(work_dir, exist_ok=True)
        self.manifest = Manifest(work_dir)
        self.cfg_fp = fingerprint_config(
            {
                "model": model,
                "norm": norm,
                "out_partitions": out_partitions,
                "embeddings_seed": embeddings_seed,
                "embeddings_path": embeddings_path or "",
                "bucket_table": bucket_table or "",
                # in the fingerprint so toggling the export re-runs
                # materialize instead of silently skipping the write
                "export_ntriples": bool(export_ntriples),
            }
        )
        self.timings: dict[str, float] = {}
        #: output path -> schema of what this instance wrote there
        self._schemas: dict[str, StructType] = {}

    # -- helpers ------------------------------------------------------------

    def _out(self, stage: str) -> str:
        return os.path.join(self.work, stage)

    def _run_stage(self, stage: str, input_paths: list[str], fn) -> None:
        fp = fingerprint_paths(*input_paths) + ":" + self.cfg_fp
        if self.resume and self.manifest.is_done(stage, fp):
            self.timings[stage] = 0.0
            return
        t0 = time.time()
        extra = fn() or {}
        wall = (time.time() - t0) * 1000
        self.timings[stage] = wall / 1000
        rows = extra.pop("row_count", None)
        self.manifest.commit(stage, fp, rows, wall, extra=extra or None)

    def _write(
        self, df: DataFrame, path: str, partitions: int | None = None, counted: bool = False
    ) -> int | None:
        """Write ``df`` to ``path`` and keep its schema for :meth:`_read`.
        ``counted``: the row count rides the write via ``df.observe``
        instead of a count-after-write re-read (a whole extra job)."""
        obs = None
        if counted:
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        w = df.repartition(partitions) if partitions else df
        w.write.mode("overwrite").parquet(path)
        self._schemas[path] = df.schema
        return int(obs.get["n"]) if obs else None

    def _write_rows(self, rows: list, schema: StructType, path: str) -> int:
        """Write driver-computed rows as one Parquet file; returns the
        row count. ``schema`` carries the nullability the distributed
        path would write (ids and collected alias arrays are non-null).
        Object-dtype pandas, as in ``session.tiny_df``: the non-Arrow
        path never sees numpy scalars."""
        pdf = pd.DataFrame(rows, columns=schema.names, dtype=object)
        self._write(self.spark.createDataFrame(pdf if rows else [], schema).coalesce(1), path)
        return len(rows)

    def _read(self, path: str) -> DataFrame:
        """Read a stage output, with its schema if this instance wrote it
        (no inference job)."""
        schema = self._schemas.get(path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    def _gaz(self):
        return self.spark.read.parquet(self.gazetteer_path)

    # -- stages -------------------------------------------------------------

    def stage_reassemble(self) -> dict:
        df = self.spark.read.parquet(self.input_path)
        ordered = reassemble.ordered_turns(df)
        # write straight out of the window's shuffle partitioning — an
        # extra repartition() here would be a second full shuffle
        n = self._write(ordered, self._out("reassemble"), counted=True)
        return {"row_count": n}

    def stage_extract(self) -> dict:
        # B2 and B3 as two independent scans. A single combined pass
        # (union schema, partitionBy(kind)) was measured SLOWER (95s vs
        # 54s at local[8]/bench): the extra materialize+reread of ~7M
        # union rows costs more than the saved text scan — regex+Arrow
        # is cheaper than write bandwidth here. See docs/DESIGN_SCALE.md.
        turns = self._read(self._out("reassemble"))
        gaz_pdf = self._gaz().toPandas()
        pat_pdf = self.spark.read.parquet(self.patterns_path).toPandas()
        tri = extract.extract_triples(turns, gaz_pdf, pat_pdf)
        tri = extract.surface_triples_dedup(tri)
        n = self._write(tri, os.path.join(self._out("extract"), "triples"), counted=True)
        men = extract.detect_mentions(turns, gaz_pdf)
        self._write(men, os.path.join(self._out("extract"), "mentions"))
        return {"row_count": n}

    def stage_canonicalize(self) -> dict:
        """B7/B8 — alias canonicalization over *observed* surfaces: the
        union of extracted subject/object surfaces and the gazetteer
        aliases, mapped by :func:`canonicalize.alias_map` (MinHash-LSH
        pairs, gazetteer-anchored connected components).

        The name universe is dictionary-scale (distinct surfaces, not the
        corpus), so it is collected once — with each name's own
        gazetteer canonical — and, at most :data:`DRIVER_GATE` names,
        mapped on the driver; above the gate the distributed chain runs.

        Outputs: ``alias_map(surface, canonical)`` — the link stage's
        dictionary — and ``entities(canonical, aliases)``.
        """
        tri = self._read(os.path.join(self._out("extract"), "triples"))
        gaz = self._gaz()
        am_path = os.path.join(self._out("canonicalize"), "alias_map")
        ents_path = os.path.join(self._out("canonicalize"), "entities")
        no_canon = F.lit(None).cast("string").alias("canonical")
        # a surface listed twice in the gazetteer keeps one of its
        # canonicals on either path (min here, first-seen distributed)
        universe = (
            tri.select(F.col("subj").alias("name"), no_canon)
            .unionByName(tri.select(F.col("obj").alias("name"), no_canon))
            .unionByName(gaz.select(F.col("surface").alias("name"), "canonical"))
            .groupBy("name")
            .agg(F.min("canonical").alias("canonical"))
            .limit(DRIVER_GATE + 1)
            .collect()
        )
        if len(universe) <= DRIVER_GATE:
            universe = sorted(((r[0], r[1]) for r in universe), key=lambda r: _nulls_first(r[0]))
            rows = canon.alias_map_driver(universe)
            n = self._write_rows(rows, ALIAS_MAP_SCHEMA, am_path)
            groups: dict = {}
            for surface, canonical in rows:
                aliases = groups.setdefault(canonical, set())
                if surface is not None:
                    aliases.add(surface)
            ents = [(c, sorted(groups[c])) for c in sorted(groups, key=_nulls_first)]
            self._write_rows(ents, ENTITIES_SCHEMA, ents_path)
            return {"row_count": n}
        # pinned: referenced by the LSH chain AND the alias_map build —
        # each reference would otherwise re-read + re-distinct the triples
        names = (
            tri.select(F.col("subj").alias("name"))
            .unionByName(tri.select(F.col("obj").alias("name")))
            .unionByName(gaz.select(F.col("surface").alias("name")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        gazmap = gaz.select("surface", "canonical").dropDuplicates(["surface"])
        n = self._write(canon.alias_map(names, gazmap), am_path, 1, counted=True)
        # the entities rollup reads the written parquet back rather than
        # re-executing the alias_map join plan
        ents = (
            self._read(am_path).groupBy("canonical")
            .agg(F.sort_array(F.collect_set("surface")).alias("aliases"))
        )
        self._write(ents, ents_path, 1)
        return {"row_count": n}

    def _alias_map(self):
        return self._read(os.path.join(self._out("canonicalize"), "alias_map"))

    def _write_dense_ids(self, df: DataFrame, col: str, path: str) -> int:
        """Dense ids ``0..N-1`` over the distinct ``col`` values in name
        order, written to ``path`` as ``(name, id)``; returns N.

        A source of at most :data:`DRIVER_GATE` rows is enumerated on the
        driver. Above the gate ``dense_ids_impl`` runs:
        ``"two_phase"`` is the 100x path (range-bucket + prefix-sum
        offsets, no single-partition global sort). All three give
        identical output (tests assert equality), so the choice is NOT
        part of the config fingerprint: switching it never invalidates a
        resume.
        """
        head = df.select(col).limit(DRIVER_GATE + 1).collect()
        if len(head) <= DRIVER_GATE:
            names = sorted({r[0] for r in head}, key=_nulls_first)
            return self._write_rows(list(zip(names, range(len(names)))), DENSE_IDS_SCHEMA, path)
        did = (
            materialize.two_phase_dense_ids
            if self.dense_ids_impl == "two_phase"
            else materialize.dense_ids
        )
        return self._write(did(df.select(F.col(col).alias("name"))), path, 1, counted=True)

    def stage_dicts(self) -> dict:
        d = self._out("dicts")
        n_ent = self._write_dense_ids(self._alias_map(), "canonical", os.path.join(d, "entity2id"))
        n_rel = self._write_dense_ids(
            self.spark.read.parquet(self.patterns_path), "pred", os.path.join(d, "relation2id")
        )
        # A20: the model parameters the link/eval stages score with live
        # in a Parquet (id, vec) checkpoint. A trained checkpoint
        # (training.train* → io_openke.write_embeddings_parquet) plugs in
        # via embeddings_path; otherwise seeded frozen embeddings sized
        # to the dictionaries are generated once and checkpointed here —
        # either way downstream stages READ the same format.
        if self.embeddings_path is None:
            emb = fixtures.gen_embeddings(
                n_ent=n_ent, n_rel=n_rel, dim=16, seed=self.embeddings_seed
            )
            io_openke.write_embeddings_parquet(self.spark, emb, self._emb_dir())
        return {}

    def _dicts(self):
        d = self._out("dicts")
        return (
            self._read(os.path.join(d, "entity2id")),
            self._read(os.path.join(d, "relation2id")),
        )

    def _emb_dir(self) -> str:
        return self.embeddings_path or os.path.join(self.work, "embeddings")

    def _embeddings(self) -> dict[str, np.ndarray]:
        """Link-scoring parameters from the A20 Parquet checkpoint
        (written by stage_dicts, or an external trained checkpoint via
        ``embeddings_path``). NumPy load is parameter-sized by design —
        the same matrices get broadcast to every worker anyway."""
        return io_openke.read_embeddings_parquet(self.spark, self._emb_dir())

    def stage_link(self) -> dict:
        tri = self._read(os.path.join(self._out("extract"), "triples"))
        e2id, r2id = self._dicts()
        emb = self._embeddings()
        # the alias dictionary is the canonicalize stage's CC output —
        # B7/B8 are load-bearing, not decorative
        linked = link.link_triples(
            self.spark, tri, self._alias_map(), e2id, r2id, emb, self.model, self.norm
        )
        self._write(linked, self._out("link"))
        return {}

    def stage_materialize(self) -> dict:
        linked = self._read(self._out("link"))
        out = os.path.join(self._out("materialize"), "triples")
        spo = linked.select("s", "p", "o").dropDuplicates(["s", "p", "o"])
        lineage = materialize.salted_write(
            spo, out, n_partitions=self.out_partitions, salt_cols=("s",),
        )
        # salted_write adds the int `part` column as hive partition dirs
        self._schemas[out] = StructType(spo.schema.fields + [StructField("part", IntegerType())])
        # OpenKE-format export (A20 interchange). Dictionaries are
        # dictionary-sized (driver pandas is fine); the triple file is
        # data-sized and is written distributed + stream-concatenated.
        e2id, r2id = self._dicts()
        exp = os.path.join(self._out("materialize"), "openke")
        os.makedirs(exp, exist_ok=True)
        io_openke.write_dict_txt(e2id.toPandas(), os.path.join(exp, "entity2id.txt"))
        io_openke.write_dict_txt(r2id.toPandas(), os.path.join(exp, "relation2id.txt"))
        io_openke.write_triples_txt_spark(
            self._read(out).selectExpr("s as h", "o as t", "p as r"),
            os.path.join(exp, "train2id.txt"),
            n_partitions=self.out_partitions,
        )
        # optional bucketed copy of the fact table: pays the subject-key
        # shuffle ONCE at write time so every downstream groupBy/join on
        # `s` (degree stats, blocked-eval candidate ingestion, self-joins)
        # runs with zero Exchange — the canonical layout for a fact table
        # consumed by many jobs (joins.write_bucketed). Reads the written
        # parquet back rather than re-executing the link plan.
        if self.bucket_table:
            from .joins import write_bucketed

            write_bucketed(
                self._read(out).select("s", "p", "o"),
                self.bucket_table,
                key="s",
                buckets=self.out_partitions,
            )
        # optional W3C interchange export: the canonical STRING triples
        # as N-Triples (io_rdf) next to the OpenKE txt. The fact table
        # holds dense ids, so map back through the (dictionary-sized,
        # broadcast) entity/relation dicts — the export vocabulary is
        # exactly entity2id/relation2id, and the write itself is
        # distributed with no driver concatenation (no count header).
        if self.export_ntriples:
            from .io_rdf import write_ntriples

            ids = self._read(out).select("s", "p", "o")
            e_s = e2id.select(F.col("id").alias("s"), F.col("name").alias("_s"))
            e_o = e2id.select(F.col("id").alias("o"), F.col("name").alias("_o"))
            r_p = r2id.select(F.col("id").alias("p"), F.col("name").alias("_p"))
            named = (
                ids.join(F.broadcast(e_s), "s")
                .join(F.broadcast(r_p), "p")
                .join(F.broadcast(e_o), "o")
                .select(
                    F.col("_s").alias("s"),
                    F.col("_p").alias("p"),
                    F.col("_o").alias("o"),
                )
            )
            write_ntriples(
                named, os.path.join(exp, "ntriples"),
                n_partitions=self.out_partitions,
            )
        return {"row_count": int(lineage["row_count"]), "lineage": lineage}

    def stage_evaluate(self) -> dict:
        """B12 gate: link-prediction protocol on the CONSTRUCTED KG.

        A deterministic content-hash bucket of the materialized triples
        (~10%, capped at 500, ordered take) is ranked against the full
        entity dictionary with the same checkpointed embeddings the link
        stage scored with — so a regression anywhere upstream
        (extraction, canonicalization, dense ids, materialization) moves
        ``eval_metrics.json``, and the stage's manifest dependency on
        materialize is real. The known-triple filter is the materialized
        set itself, consumed **relationally** (``link_prediction_ranks_
        relfilter`` joins the known DataFrame; the gate never collects
        the KG to the driver — only the ≤500-row test sample and the
        final one-row metrics land there).
        """
        from . import evaluate as ev

        tri = self._read(
            os.path.join(self._out("materialize"), "triples")
        ).selectExpr("s as h", "o as t", "p as r")
        bucket = F.pmod(F.xxhash64("h", "t", "r"), F.lit(10))
        # the sample is collected once: as a lazy plan, the scoring below
        # would re-run its filter + sort + limit over the KG per reference
        sample = tri.where(bucket == F.lit(9)).orderBy("h", "t", "r").limit(500).collect()
        if not sample:  # tiny KGs: gate on everything
            sample = tri.orderBy("h", "t", "r").limit(500).collect()
        # one partition, in sample order, as the ordered limit delivered it
        test = tiny_df(self.spark, [tuple(r) for r in sample], "h long, t long, r long").coalesce(1)
        emb = self._embeddings()
        ranks = ev.link_prediction_ranks_relfilter(
            self.spark, test, emb, tri, model=self.model, norm=self.norm
        )
        metrics = ev.link_prediction_metrics(ranks).toPandas().iloc[0].to_dict()
        metrics["n_gate_triples"] = len(sample)
        with open(os.path.join(self.work, "eval_metrics.json"), "w") as f:
            json.dump({k: float(v) for k, v in metrics.items()}, f, indent=1, sort_keys=True)
        return {"hits10_filt": float(metrics["hits10_filt"]), "mrr_filt": float(metrics["mrr_filt"])}

    # -- driver -------------------------------------------------------------

    def run(self, stages: list[str] | None = None) -> dict:
        stages = stages or self.STAGES
        deps = {
            "reassemble": [self.input_path],
            "extract": [self._out("reassemble"), self.gazetteer_path, self.patterns_path],
            "canonicalize": [self._out("extract"), self.gazetteer_path],
            "dicts": [self._out("canonicalize"), self.patterns_path],
            "link": [self._out("extract"), self._out("dicts"), self._out("canonicalize"), self._emb_dir()],
            "materialize": [self._out("link"), self._out("dicts")],
            "evaluate": [self._out("materialize"), self._emb_dir()],
        }
        for s in stages:
            self._run_stage(s, deps[s], getattr(self, f"stage_{s}"))
        return {"timings_sec": self.timings, "manifest": self.manifest.entries()}
