"""Stages B9/B10 — dense-ID assignment + skew-aware triple materialization.

Reference parity: dictionaries reproduce the reference's dense id spaces
(``entity2id.txt`` ids ``0..|E|-1``; OpenKEonSpark
``base/Reader.h::importTrainFiles``, recalled symbol — SURVEY.md §0) and
the output triples are the reference's ``(h, t, r)``-style integer rows,
named ``(s, p, o)`` per the north_star contract.

Dense IDs are deterministic: ``row_number() over (order by name)``.
Never ``monotonically_increasing_id`` (partition-layout-dependent).
Single-partition sort is fine at dictionary cardinality (entities are
the *distinct canonical names*, orders of magnitude smaller than the
corpus); for 100 TB inputs use ``two_phase_dense_ids`` which computes
per-partition counts + offsets — same output, no global sort bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(names: DataFrame, name_col: str = "name") -> DataFrame:
    """Distinct names → ``(name, id)`` with ids dense 0..N-1, ordered by
    name. Deliberately a single-partition global row_number — correct at
    DICTIONARY cardinality only (see :func:`two_phase_dense_ids` for the
    corpus-scale path). Spark's WindowExec single-partition warning on
    this operator is expected and benign: Spark 4 emits it whenever the
    window executes in one partition, even under a constant partition
    key (verified — both lit(1) and column-derived constants still
    warn), so it cannot be silenced without changing the plan."""
    w = Window.orderBy("name")
    return (
        names.select(F.col(name_col).alias("name"))
        .distinct()
        .withColumn("id", (F.row_number().over(w) - F.lit(1)).cast("long"))
    )


def two_phase_dense_ids(
    names: DataFrame, name_col: str = "name", buckets: int | None = None
) -> DataFrame:
    """Scale path for dense IDs: range-bucket by name, rank within bucket,
    add exclusive prefix-sum offsets. Identical output to :func:`dense_ids`
    (global order by name) without a single-partition global sort.

    ``buckets`` defaults to ``spark.sql.shuffle.partitions`` — the
    output (global dense rank by name) is identical for ANY bucket
    count, so the bucketing tracks the session's shuffle sizing instead
    of a constant (the old fixed 256 scheduled 256 tiny tasks per phase
    at dictionary cardinality; at real scale raise shuffle partitions
    and this follows).
    """
    distinct = names.select(F.col(name_col).alias("name")).distinct()
    if buckets is None:
        buckets = int(names.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # repartitionByRange gives contiguous name ranges per partition
    ranged = distinct.repartitionByRange(buckets, "name").withColumn(
        "bucket", F.spark_partition_id()
    )
    counts = (
        ranged.groupBy("bucket").count()
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("count").over(
                    # bucket-COUNT-sized table (≤ `buckets` rows): the
                    # single-partition WindowExec warning here is benign
                    Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "offset")
    )
    w = Window.partitionBy("bucket").orderBy("name")
    return (
        ranged.withColumn("local_rank", F.row_number().over(w) - F.lit(1))
        .join(F.broadcast(counts), "bucket")
        .select("name", (F.col("local_rank") + F.col("offset")).cast("long").alias("id"))
    )


def to_id_triples(
    canon_triples: DataFrame,
    entity2id: DataFrame,
    relation2id: DataFrame,
    subj_col: str = "subj_canon",
    pred_col: str = "pred",
    obj_col: str = "obj_canon",
) -> DataFrame:
    """Canonical string triples → distinct ``(s, p, o)`` long triples.

    Dictionaries are broadcast (small by construction) so the big fact
    table never shuffles for the id lookup.
    """
    e = F.broadcast(entity2id)
    r = F.broadcast(relation2id)
    return (
        canon_triples
        .join(e.withColumnRenamed("name", subj_col).withColumnRenamed("id", "s"), subj_col)
        .join(e.withColumnRenamed("name", obj_col).withColumnRenamed("id", "o"), obj_col)
        .join(r.withColumnRenamed("name", pred_col).withColumnRenamed("id", "p"), pred_col)
        .select("s", "p", "o")
        .dropDuplicates(["s", "p", "o"])
    )


def salted_write(
    df: DataFrame,
    path: str,
    n_partitions: int,
    salt_cols: tuple[str, ...] = ("s",),
    lineage_name: str = "triples",
) -> dict:
    """B10: skew-aware partitioned write with lineage counters.

    Partitions by ``pmod(hash(salt_cols..., salt), n)`` — the extra salt
    term spreads hot subject keys across partitions so no single output
    file/task absorbs a hot entity. The salt is ``pmod(xxhash64(<all
    columns>), 16)`` — a *content* hash, never ``rand()``: partition
    assignment is a pure function of the row, so two runs (or a resume)
    produce byte-identical partition layout regardless of input
    partitioning. Lineage counters — the row count, approximate distinct
    keys and the per-partition row counts (one conditional sum per
    ``part`` value, which lies in ``[0, n_partitions)``) — ride the
    write job via ``df.observe``: no read-back of the written table.

    Returns the lineage row (dict) that the manifest records.
    """
    from pyspark.sql import Observation

    obs = Observation(lineage_name)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(16))
    salted = df.withColumn(
        "part",
        F.pmod(
            F.hash(*[F.col(c) for c in salt_cols], salt),
            F.lit(n_partitions),
        ),
    )
    observed = salted.observe(
        obs,
        F.count(F.lit(1)).alias("row_count"),
        F.approx_count_distinct(salt_cols[0]).alias("approx_distinct_keys"),
        *[
            F.coalesce(F.sum((F.col("part") == i).cast("long")), F.lit(0)).alias(f"_part{i}")
            for i in range(n_partitions)
        ],
    )
    # hive-style `part=` directories (Iceberg-shaped salted partitions);
    # `repartition` on the salt first so each output dir is one file
    observed.repartition(n_partitions, "part").write.mode("overwrite").partitionBy(
        "part"
    ).parquet(path)
    lineage = dict(obs.get)
    # per-partition lineage rows: only partitions that received rows, as
    # a group-by over the written table would list them
    parts = {i: int(lineage.pop(f"_part{i}")) for i in range(n_partitions)}
    parts = {i: n for i, n in parts.items() if n}
    from ..session import tiny_df

    tiny_df(
        df.sparkSession, list(parts.items()), "part int, rows bigint"
    ).coalesce(1).write.mode("overwrite").parquet(path + "_lineage")
    lineage["partitions"] = parts
    lineage["max_partition_rows"] = max(parts.values(), default=0)
    return lineage
