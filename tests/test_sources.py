"""Source/sink surface tests: csv/json round-trips, partitioned parquet
writes with partition pruning, single-file text sink parity."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from pyspark.sql import functions as F

from map_reduce_implementation_spark.plans import audit_plan
from map_reduce_implementation_spark.sources import table
from map_reduce_implementation_spark.sources.tables import (
    read_csv,
    read_json,
    write_parquet,
    write_single_text_file,
)

from .conftest import REF_CORPUS_DIR, SF0001, requires_ref_corpus


REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _nation(spark):
    return table(spark, SF0001, "nation")


def test_csv_roundtrip(spark, tmp_path):
    src = _nation(spark)
    p = str(tmp_path / "nation_csv")
    src.write.mode("overwrite").option("header", "true").csv(p)
    back = read_csv(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_json_roundtrip(spark, tmp_path):
    src = _nation(spark)
    p = str(tmp_path / "nation_json")
    src.write.mode("overwrite").json(p)
    back = read_json(spark, p).select(*src.columns)  # json reorders cols
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_partitioned_parquet_prunes(spark, tmp_path):
    src = table(spark, SF0001, "orders")
    p = str(tmp_path / "orders_part")
    write_parquet(src, p, partition_by=["o_orderstatus"])
    back = spark.read.parquet(p)
    q = back.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    a = audit_plan(q)
    # hive-style partition pruning: the filter moves into PartitionFilters
    assert "PartitionFilters" in a.text and "o_orderstatus" in a.text.split(
        "PartitionFilters"
    )[1].split("]")[0], f"no partition pruning:\n{a.text[:1500]}"
    want = src.filter(F.col("o_orderstatus") == "F").count()
    assert q.count() == want


@requires_ref_corpus
def test_single_text_file_sink(spark, tmp_path):
    from map_reduce_implementation_spark.jobs import letter_counter

    df = letter_counter(spark, f"{REF_CORPUS_DIR}/input.txt")
    out = str(tmp_path / "mr_rst")
    write_single_text_file(df.selectExpr("concat(letter, ' ', cnt) AS value"), out)
    import glob

    parts = [f for f in glob.glob(f"{out}/part-*") if not f.endswith(".crc")]
    assert len(parts) == 1, "reference parity: ONE result file (mr.rst)"
    lines = open(parts[0]).read().splitlines()
    assert len(lines) == 26 and lines[0] == "A 15" and lines[-1] == "Z 0"


def test_orc_roundtrip(spark, tmp_path):
    from map_reduce_implementation_spark.sources.tables import read_orc, write_orc

    src = _nation(spark)
    p = str(tmp_path / "nation_orc")
    write_orc(src, p)
    back = read_orc(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key join with ZERO Exchange nodes
    — the co-located join that kills the shuffle at 100 TB."""
    from map_reduce_implementation_spark.sources.tables import write_bucketed

    # warehouse.dir is a static conf — managed tables land in the default
    # ./spark-warehouse; DROP TABLE below removes the files
    orders = table(spark, SF0001, "orders")
    lineitem = table(spark, SF0001, "lineitem")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", ["o_orderkey"], 8, sort_cols=["o_orderkey"],
    )
    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    # force SMJ path (no broadcast) to prove bucketing removes the exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bo.join(bl, "o_orderkey").groupBy("o_orderstatus").count()
        plan = audit_plan(joined)
        # the join itself must be exchange-free; the only shuffle allowed
        # is the one for the final groupBy
        assert plan.has_sort_merge_join
        assert plan.n_shuffle_exchanges == 1
        got = {r.o_orderstatus: r["count"] for r in joined.collect()}
        want = {
            r.o_orderstatus: r["count"]
            for r in orders.join(
                lineitem, orders.o_orderkey == lineitem.l_orderkey
            ).groupBy("o_orderstatus").count().collect()
        }
        assert got == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_avro_round_trip_or_gated(spark, tmp_path):
    from map_reduce_implementation_spark.sources.tables import (
        avro_available,
        read_avro,
        write_avro,
    )

    nation = table(spark, SF0001, "nation")
    if not avro_available(spark):
        # bare pyspark wheel: datasource absent — helper must say so
        with pytest.raises(Exception, match="Failed to find data source"):
            write_avro(nation, str(tmp_path / "n.avro"))
        return
    write_avro(nation, str(tmp_path / "n.avro"))
    back = read_avro(spark, str(tmp_path / "n.avro"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema-evolution read: files written at different schema versions
    unify under mergeSchema (new columns NULL-filled for old files) —
    the lake-append pattern a long-lived 100 TB dataset lives with."""
    p = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a")], "id: long, name: string")
    v2 = spark.createDataFrame(
        [(2, "b", 3.5)], "id: long, name: string, score: double"
    )
    v1.write.mode("append").parquet(p)
    v2.write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 3.5)}


def test_xml_round_trip(spark, tmp_path):
    from map_reduce_implementation_spark.sources.tables import read_xml, write_xml

    nation = table(spark, SF0001, "nation").select("n_nationkey", "n_name", "n_regionkey")
    p = str(tmp_path / "n_xml")
    write_xml(nation, p)
    back = read_xml(spark, p).select("n_nationkey", "n_name", "n_regionkey")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_python_datasource_synthetic_docs(spark):
    """Spark 4 Python DataSource: partition-parallel deterministic
    generator — no driver-side row materialization."""
    from map_reduce_implementation_spark.sources.pyds import (
        SyntheticDocsDataSource,
        _doc_text,
    )

    spark.dataSource.register(SyntheticDocsDataSource)
    df = (
        spark.read.format("synthetic_docs")
        .option("n_rows", 200)
        .option("n_partitions", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    rows = {r.doc_id: r.text for r in df.collect()}
    assert len(rows) == 200
    # pure function of doc_id: engine rows == local recomputation
    assert rows[0] == _doc_text(0) and rows[199] == _doc_text(199)
    # repartitioning the read does not change content (determinism)
    df2 = (
        spark.read.format("synthetic_docs")
        .option("n_rows", 200)
        .option("n_partitions", 3)
        .load()
    )
    assert {r.doc_id: r.text for r in df2.collect()} == rows


def test_zorder_layout_prunes_both_columns(spark, tmp_path):
    """Z-order clustering must make per-file min/max stats selective on
    BOTH interleaved columns; a single-column sort is selective on one."""
    import glob

    import pyarrow.parquet as pq

    from map_reduce_implementation_spark.sources.tables import write_zorder

    orders = table(spark, SF0001, "orders").select("o_orderkey", "o_custkey")
    zp = str(tmp_path / "orders_z")
    write_zorder(orders, zp, "o_custkey", "o_orderkey", n_files=8)

    files = sorted(glob.glob(zp + "/*.parquet"))
    assert len(files) >= 4

    def covering(colname, point):
        n = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(colname)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            if lo <= point <= hi:
                n += 1
        return n

    total = len(files)
    rows = orders.count()
    mid_cust = 75  # mid-range customer key at sf0.001
    mid_order = rows // 2
    assert covering("o_custkey", mid_cust) < total
    assert covering("o_orderkey", mid_order) < total
    # content preserved
    assert spark.read.parquet(zp).count() == rows


def test_compact_parquet_reduces_files(spark, tmp_path):
    from map_reduce_implementation_spark.sources.tables import compact_parquet

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    orders = table(spark, SF0001, "orders")
    orders.repartition(32).write.parquet(src)
    import glob

    assert len(glob.glob(src + "/*.parquet")) == 32
    n = compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(dst + "/*.parquet")) == 1
    a = sorted(r.o_orderkey for r in spark.read.parquet(dst).collect())
    b = sorted(r.o_orderkey for r in orders.collect())
    assert a == b


def test_zorder_value_bijective_and_bounded():
    """The Morton interleave must be a bijection on the bits×bits grid
    (distinct (a,b) → distinct z) and bounded by 2^(2·bits)."""
    import itertools

    from map_reduce_implementation_spark.sources.tables import zorder_value

    # evaluate the expression tree via a local session on a literal grid
    from map_reduce_implementation_spark.session import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    pts = list(itertools.product(range(16), range(16)))
    df = spark.createDataFrame(pts, ["a", "b"]).select(
        "a", "b", zorder_value(F.col("a"), F.col("b"), bits=4).alias("z")
    )
    rows = df.collect()
    zs = [r.z for r in rows]
    assert len(set(zs)) == len(pts), "interleave must be injective"
    assert all(0 <= z < 2**8 for z in zs)
    # locality spot-check: neighbors in (a,b) differ by a bounded z step
    # on the even grid (property of Morton order for the low bit)
    zmap = {(r.a, r.b): r.z for r in rows}
    assert zmap[(0, 0)] == 0 and zmap[(0, 1)] == 1 and zmap[(1, 0)] == 2


def test_cli_suite_subcommand(capsys):
    from map_reduce_implementation_spark.cli import main

    rc = main(["suite", "--list"])
    assert rc == 0
    names = [l.split("\t")[0] for l in capsys.readouterr().out.splitlines() if l]
    assert "pricing_summary" in names and len(names) > 100

    rc = main(["suite", "letter_counter", "--sf", SF0001, "--limit", "3"])
    out = capsys.readouterr().out
    assert rc == 0 and "letter='A'" in out

    assert main(["suite", "not_a_query"]) == 2


def test_cli_sql_subcommand(capsys):
    from map_reduce_implementation_spark.cli import main

    rc = main(
        [
            "sql",
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1",
            "--sf",
            SF0001,
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0 and "l_returnflag='A'" in out

    assert main(["sql", "SELECT 1", "--sf", "/no/such/dir"]) == 2


def test_table_memo_invalidate(spark, tmp_path):
    """The table() plan memo pins the file listing at first reference
    (documented static-data assumption); invalidate() must force a
    re-list so appended files become visible."""
    import pandas as pd

    from map_reduce_implementation_spark.sources import invalidate, table

    import os

    sf = str(tmp_path)
    os.mkdir(f"{sf}/documents.parquet")  # directory-style parquet table
    pd.DataFrame({"doc_id": [1], "text": ["a"], "lang": ["en"],
                  "source": ["t"], "n_chars": [1]}).to_parquet(
        f"{sf}/documents.parquet/part-0.parquet"
    )
    assert table(spark, sf, "documents").count() == 1
    # append a second file into the same table directory
    pd.DataFrame({"doc_id": [2], "text": ["b"], "lang": ["en"],
                  "source": ["t"], "n_chars": [1]}).to_parquet(
        f"{sf}/documents.parquet/part-extra.parquet"
    )
    # memoized plan still sees the original single-file listing
    assert table(spark, sf, "documents").count() == 1
    invalidate(spark, sf)
    assert table(spark, sf, "documents").count() == 2


def test_table_memo_drops_stopped_sessions(tmp_path):
    """A process that restarts sessions keeps only the live session's
    memo: the frames hold their session, so without pruning every
    stopped session (and its JVM-side state) stayed reachable."""
    script = textwrap.dedent(
        f"""
        from map_reduce_implementation_spark.session import get_spark
        from map_reduce_implementation_spark.sources import tables

        for i in range(3):
            spark = get_spark(app_name=f"memo{{i}}", master="local[1]",
                              shuffle_partitions=1)
            tables.table(spark, {SF0001!r}, "region")
            if i < 2:
                spark.stop()
        print("MEMO", len(tables._TABLE_MEMO), spark in tables._TABLE_MEMO)
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    assert "MEMO 1 True" in proc.stdout, proc.stdout[-2000:]
