"""Sinks (SURVEY §2-A3/A4): the "to Hadoop" half of the reference, plus
secondary CSV/JSON ingest with explicit schemas.

The reference shells out to ``hadoop fs -put`` per file; here the sink is a
partitioned, compressed parquet write whose layout is chosen for downstream
reads: partition columns enable static + dynamic partition pruning, and a
bounded file count per partition keeps the small-file problem away from the
NameNode (the classic failure mode of file-copy ETL at scale).

Verification is one path: the write job fingerprints the rows it consumes
(count + order-insensitive content checksum, observed in-flight), and
``verify_export`` recomputes the same fingerprint in one scan of the sink.
The source is therefore read once per export — for SSTable snapshots that
read is the pure-Python decode, by far the dominant cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fingerprint(cols: list[str]) -> list:
    """Row count + order-insensitive content checksum over ``cols``, as
    aggregate expressions.  The per-row hash is reduced mod 2^31 before
    summing: commutative, and it cannot overflow the long accumulator under
    ANSI arithmetic at any row count that fits a cluster."""
    h = F.pmod(F.xxhash64(*[F.col(c).cast("string") for c in sorted(cols)]), F.lit(2_147_483_647))
    return [F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("checksum")]


def export_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_files_per_partition: int | None = None,
) -> tuple[int, int]:
    """A4: partitioned snappy parquet export; returns ``(n_rows, checksum)``
    of exactly the rows the writer consumed.

    The fingerprint is accumulated BY the write job itself (``df.observe``
    attaches the aggregates to the write plan without an extra action), so
    the source is read and decoded once; ``verify_export`` then compares it
    with one scan of what landed.

    ``max_files_per_partition`` repartitions by the partition columns first
    so each output directory gets a bounded number of files — at 100 TB an
    unrepartitioned write emits (shuffle partitions × partition values)
    files, which is how data lakes drown in 4 KB objects.
    """
    from pyspark.sql import Observation

    obs = Observation()
    writer_df = df.observe(obs, *_fingerprint(df.columns))
    if partition_by and max_files_per_partition:
        writer_df = writer_df.repartition(max_files_per_partition, *[F.col(c) for c in partition_by])
    writer = writer_df.write.mode(mode).option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    got = obs.get
    return int(got["n"]), int(got["checksum"])


def verify_export(
    spark: SparkSession, path: str, expected: tuple[int, int], cols: list[str]
) -> bool:
    """A6 post-copy verification: one scan of the sink computes the row
    count and content checksum together and compares them with
    ``expected``, the in-flight fingerprint ``export_parquet`` returned.
    The reference verifies transfers by listing; content hashing also
    catches a part file that landed altered, short or not at all."""
    row = spark.read.parquet(path).select(*_fingerprint(cols)).collect()[0]
    return (int(row.n), int(row.checksum)) == tuple(expected)


def read_csv(spark: SparkSession, path: str, schema_ddl: str, **options) -> DataFrame:
    """A3: CSV ingest with an explicit schema — inference is a full extra
    pass over the data and type-unstable; the engine never uses it."""
    return spark.read.schema(schema_ddl).options(header="true", **options).csv(path)


def read_json(spark: SparkSession, path: str, schema_ddl: str, **options) -> DataFrame:
    """A3: JSON-lines ingest with an explicit schema."""
    return spark.read.schema(schema_ddl).options(**options).json(path)
