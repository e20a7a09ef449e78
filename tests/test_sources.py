"""Tests for the Cassandra snapshot source (A2), sinks (A3/A4), manifest
verification (A6), and incremental ingest (A5) on generated snapshot-layout
fixtures (FIXTURES.md §3.1)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.operators.cassandra import apply_tombstones, lww_merge
from cassandra_snap_to_hadoop_spark.sources.sinks import (
    export_parquet,
    read_csv,
    read_json,
    verify_export,
)
from cassandra_snap_to_hadoop_spark.sources.snapshot import (
    incremental_new_files,
    parse_schema_cql,
    parse_table_meta,
    snapshot_manifest,
    snapshot_scan,
)
from cassandra_snap_to_hadoop_spark.sources.sstable_na import write_na_data_db

SCHEMA_CQL = """
CREATE TABLE ks1.events_wide (
    pk bigint,
    ck bigint,
    v1 text,
    v2 double,
    tags list<text>,
    _writetime bigint,
    _ttl int,
    _tombstone boolean,
    _seq bigint,
    PRIMARY KEY ((pk), ck)
) WITH CLUSTERING ORDER BY (ck ASC);
"""

CELLS_DDL = (
    "pk long, ck long, v1 string, v2 double, tags array<string>, "
    "_writetime long, _ttl int, _tombstone boolean, _seq long"
)


@pytest.fixture(scope="module")
def snapshot_fixture(spark, tmp_path_factory):
    """ks1/events_wide with two tags; tag-002 adds one overlapping gen."""
    root = str(tmp_path_factory.mktemp("snapshots"))

    def write_gen(tag: str, gen: str, rows):
        snap = os.path.join(root, "ks1", "events_wide", "snapshots", tag)
        os.makedirs(snap, exist_ok=True)
        with open(os.path.join(snap, "schema.cql"), "w") as fh:
            fh.write(SCHEMA_CQL)
        df = spark.createDataFrame(rows, CELLS_DDL)
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(snap, "_tmp"))
        # move the single part file to a stable gen-N name
        tmp = os.path.join(snap, "_tmp")
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part), os.path.join(snap, f"{gen}.parquet"))
        for leftover in os.listdir(tmp):
            os.remove(os.path.join(tmp, leftover))
        os.rmdir(tmp)

    gen0 = [
        (1, 1, "a", 1.0, ["t1"], 10, None, False, 1),
        (1, 2, "b", 2.0, [], 10, None, False, 2),
        (2, 1, "c", 3.0, None, 10, None, False, 3),
    ]
    gen1 = [
        (1, 1, "a2", 1.5, ["t2"], 20, None, False, 4),  # overwrites (1,1)
        (2, 1, None, None, None, 30, None, True, 5),  # tombstones (2,1)
        (3, 1, "d", 4.0, None, 20, None, False, 6),  # new row
    ]
    write_gen("tag-001", "gen-0", gen0)
    write_gen("tag-001", "gen-1", gen1)
    write_gen("tag-002", "gen-0", gen0)
    write_gen("tag-002", "gen-1", gen1)
    write_gen("tag-002", "gen-2", [(4, 1, "e", 5.0, None, 40, None, False, 7)])
    return root


def test_parse_schema_cql():
    ddl = parse_schema_cql(SCHEMA_CQL)
    assert "pk LONG" in ddl.upper() or "pk long" in ddl
    assert "tags array<string>" in ddl
    assert "_tombstone boolean" in ddl
    assert "PRIMARY" not in ddl.upper()


def test_snapshot_scan_schema_and_rows(spark, snapshot_fixture):
    df = snapshot_scan(spark, snapshot_fixture, "ks1", "events_wide", "tag-001")
    assert df.count() == 6
    assert "_sstable" in df.columns
    assert dict(df.dtypes)["pk"] == "bigint"
    assert dict(df.dtypes)["tags"] == "array<string>"
    # one input partition per sstable file
    assert df.select("_sstable").distinct().count() == 2


def test_snapshot_to_silver_pipeline(spark, snapshot_fixture):
    """The reference's whole job as one Spark plan: scan -> LWW -> tombstone."""
    df = snapshot_scan(spark, snapshot_fixture, "ks1", "events_wide", "tag-001")
    silver = apply_tombstones(lww_merge(df, ["pk", "ck"], "_writetime", "_seq"))
    got = {(r.pk, r.ck): r.v1 for r in silver.collect()}
    assert got == {(1, 1): "a2", (1, 2): "b", (3, 1): "d"}


def test_snapshot_manifest_detects_change(spark, snapshot_fixture):
    df1 = snapshot_scan(spark, snapshot_fixture, "ks1", "events_wide", "tag-001")
    m1 = snapshot_manifest(df1)
    assert m1.count() == 2
    assert m1.agg(F.sum("n_rows")).collect()[0][0] == 6


def test_incremental_ingest_only_new_files(spark, snapshot_fixture):
    df1 = snapshot_scan(spark, snapshot_fixture, "ks1", "events_wide", "tag-001")
    seen = snapshot_manifest(df1)
    new = incremental_new_files(spark, snapshot_fixture, "ks1", "events_wide", "tag-002", seen)
    rows = new.collect()
    assert {r.pk for r in rows} == {4}  # only gen-2 content is new


def test_export_and_verify_roundtrip(spark, sf_dir, tmp_path):
    from cassandra_snap_to_hadoop_spark.io import load

    li = load(spark, sf_dir, "lineitem").withColumn("ship_year", F.year("l_shipdate"))
    out = str(tmp_path / "lineitem_export")
    n, checksum = export_parquet(li, out, partition_by=["ship_year"], max_files_per_partition=2)
    assert n == li.count()
    assert verify_export(spark, out, (n, checksum), li.columns)
    # partition pruning layout exists
    years = [d for d in os.listdir(out) if d.startswith("ship_year=")]
    assert len(years) >= 5


def test_export_job_raw_and_merged(spark, snapshot_fixture, tmp_path):
    """The reference's whole CLI job through export_snapshot: raw mode
    preserves all generations + lineage; merged mode lands LWW state."""
    from cassandra_snap_to_hadoop_spark.export import export_snapshot

    raw = export_snapshot(
        spark, snapshot_fixture, "ks1", "events_wide", "tag-001",
        str(tmp_path / "raw"), merge=False,
    )
    assert raw == {"mode": "raw", "rows_exported": 6, "verified": True, "out": str(tmp_path / "raw")}
    merged = export_snapshot(
        spark, snapshot_fixture, "ks1", "events_wide", "tag-001",
        str(tmp_path / "merged"), merge=True, key_cols=["pk", "ck"],
    )
    assert merged["mode"] == "merged" and merged["verified"] is True
    assert merged["rows_exported"] == 3
    back = {(r.pk, r.ck): r.v1 for r in spark.read.parquet(str(tmp_path / "merged")).collect()}
    assert back == {(1, 1): "a2", (1, 2): "b", (3, 1): "d"}


def test_export_job_merged_binary_na(spark, tmp_path):
    """A merged export of real ``na`` SSTables: the table declares no
    ``_writetime`` column, so the job must ask the source for the cell
    writetimes that LWW orders by, then land exactly the survivors."""
    from cassandra_snap_to_hadoop_spark.export import export_snapshot

    cql = """CREATE TABLE ks2.kv (
    pk bigint,
    ck int,
    name text,
    score double,
    PRIMARY KEY (pk, ck)
);"""
    snap = tmp_path / "ks2" / "kv" / "snapshots" / "t1"
    snap.mkdir(parents=True)
    (snap / "schema.cql").write_text(cql)
    meta = parse_table_meta(cql)

    def write_gen(gen: int, rows):
        by_pk: dict[int, list] = {}
        for pk, ck, name, score, ts in rows:
            by_pk.setdefault(pk, []).append(
                {"clustering": (ck,), "marker_ts": ts, "cells": {
                    "name": ("live", ts, name), "score": ("live", ts, score)}}
            )
        parts = [{"key": (pk,), "deletion": None, "rows": by_pk[pk]} for pk in sorted(by_pk)]
        write_na_data_db(str(snap / f"na-{gen}-big-Data.db"), parts, meta, version="na")

    write_gen(1, [(1, 1, "a", 1.0, 100), (1, 2, "b", 2.0, 100), (2, 1, "c", 3.0, 100)])
    write_gen(2, [(1, 1, "a2", 1.5, 200), (3, 1, "d", 4.0, 200)])
    out = str(tmp_path / "merged")
    merged = export_snapshot(spark, str(tmp_path), "ks2", "kv", "t1", out, merge=True)
    assert merged["verified"] is True and merged["rows_exported"] == 4
    back = {(r.pk, r.ck): (r.name, r.score) for r in spark.read.parquet(out).collect()}
    assert back == {
        (1, 1): ("a2", 1.5), (1, 2): ("b", 2.0), (2, 1): ("c", 3.0), (3, 1): ("d", 4.0),
    }


def test_verify_export_fails_closed_on_tampered_sink(spark, tmp_path):
    """The one verification path must catch a sink that landed wrong: a
    part file rewritten with one value changed, or a part file lost."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = spark.range(200).selectExpr("id", "CAST(id * 3 AS STRING) AS s").repartition(4)
    out = str(tmp_path / "sink")
    expected = export_parquet(df, out)
    assert expected[0] == 200
    assert verify_export(spark, out, expected, df.columns)
    parts = sorted(os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet"))
    assert len(parts) >= 2

    table = pq.read_table(parts[0])
    s = table.column("s").to_pylist()
    s[0] = s[0] + "x"
    pq.write_table(table.set_column(1, "s", pa.array(s, pa.string())), parts[0])
    # a consistent replacement: drop the local filesystem's stale .crc
    # sidecar, which would otherwise reject the file before verification
    head, tail = os.path.split(parts[0])
    os.remove(os.path.join(head, f".{tail}.crc"))
    assert not verify_export(spark, out, expected, df.columns)

    os.remove(parts[0])
    assert not verify_export(spark, out, expected, df.columns)


def test_export_empty_frame_verifies(spark, tmp_path):
    """An empty export (an all-tombstoned merge, an empty snapshot) has a
    zero fingerprint on both sides, not a NULL checksum."""
    df = spark.range(0).selectExpr("id", "CAST(id AS STRING) AS s")
    out = str(tmp_path / "empty")
    assert export_parquet(df, out) == (0, 0)
    assert verify_export(spark, out, (0, 0), df.columns)


def test_export_cli_main(spark, snapshot_fixture, tmp_path, capsys, monkeypatch):
    """``python -m ...export``: exit 0 and one JSON summary line on a
    verified export; the retired ``--observed`` flag is rejected."""
    from cassandra_snap_to_hadoop_spark import session
    from cassandra_snap_to_hadoop_spark.export import main

    # reuse the test session as is: get_spark would reset its SQL confs
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    args = [
        "--data-dir", snapshot_fixture, "--keyspace", "ks1", "--table", "events_wide",
        "--tag", "tag-001", "--out", str(tmp_path / "cli"),
    ]
    assert main(args) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    summary = json.loads(lines[0])
    assert summary["verified"] is True and summary["rows_exported"] == 6
    with pytest.raises(SystemExit) as exc:
        main(args + ["--observed"])
    assert exc.value.code == 2


def test_csv_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double")
    csv_path, json_path = str(tmp_path / "c"), str(tmp_path / "j")
    df.write.option("header", "true").csv(csv_path)
    df.write.json(json_path)
    back_csv = read_csv(spark, csv_path, "id long, s string, v double")
    back_json = read_json(spark, json_path, "id long, s string, v double")
    expect = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, back_csv.collect())) == expect
    assert sorted(map(tuple, back_json.collect())) == expect


def test_export_observed_metrics_roundtrip(spark, sf_dir, tmp_path):
    """The in-flight count+checksum ``export_parquet`` observes must match
    a fresh scan of the written data, and a tampered expectation must NOT
    verify."""
    from cassandra_snap_to_hadoop_spark.io import load

    o = load(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate"))
    out = str(tmp_path / "orders_obs")
    metrics = export_parquet(o, out, partition_by=["order_year"], max_files_per_partition=2)
    assert metrics[0] == o.count()
    assert verify_export(spark, out, metrics, o.columns)
    assert len([d for d in os.listdir(out) if d.startswith("order_year=")]) >= 5
    # tampered expectation fails closed
    assert not verify_export(spark, out, (metrics[0] - 1, metrics[1]), o.columns)
