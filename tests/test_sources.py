"""Source tests — model: reference tests/csv.rs + file_reader_test.rs."""

import os

from agnes_spark.sources.csv import CsvSpec, load_csv, sniff, sniff_and_load
from agnes_spark.sources.formats import read_parquet, write_parquet
from agnes_spark.sources.memory import table


def test_csv_spec_load(spark, tmp_path):
    p = tmp_path / "gdp.csv"
    p.write_text(
        "Country Name,Country Code,2015\n"
        "Andorra,AND,2811489409.3\n"
        "Afghanistan,AFG,19199437397.3\n"
    )
    # reference examples/gdp_uri.rs spec![] shape
    spec = CsvSpec(
        fields={
            "CountryName": ("Country Name", "string"),
            "CountryCode": ("Country Code", "string"),
            "Gdp2015": ("2015", "f64"),
        }
    )
    df = load_csv(spark, str(p), spec)
    assert df.columns == ["CountryName", "CountryCode", "Gdp2015"]
    assert df.schema["Gdp2015"].dataType.typeName() == "double"
    rows = {r.CountryCode: r.Gdp2015 for r in df.collect()}
    assert abs(rows["AND"] - 2811489409.3) < 1e-3


def test_sniffer_detects_delimiter_and_header():
    delim, header = sniff(b"a;b;c\n1;2;3\n4;5;6\n")
    assert delim == ";"
    assert header is True


def test_sniff_and_load(spark, tmp_path):
    p = tmp_path / "t.tsv"
    p.write_text("x\ty\n1\t2\n3\t4\n")
    df = sniff_and_load(spark, str(p))
    assert df.columns == ["x", "y"]
    assert df.count() == 2


def test_parquet_roundtrip(spark, tmp_path):
    df = table(spark, {"a": [1, 2], "b": ["x", "y"]}, types={"a": "bigint", "b": "string"})
    out = os.path.join(tmp_path, "t.parquet")
    write_parquet(df, out)
    back = read_parquet(spark, out, columns=["a"])
    assert back.columns == ["a"]
    assert sorted(r.a for r in back.collect()) == [1, 2]


def test_memory_table_length_mismatch(spark):
    import pytest

    with pytest.raises(ValueError):
        table(spark, {"a": [1], "b": [1, 2]})


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution: files written at different times with added
    columns read back as one table under mergeSchema."""
    from agnes_spark.sources.memory import table

    old = table(spark, {"id": [1, 2], "v": [1.0, 2.0]}, types={"id": "long", "v": "double"})
    new = table(
        spark,
        {"id": [3], "v": [3.0], "extra": ["x"]},
        types={"id": "long", "v": "double", "extra": "string"},
    )
    old.write.parquet(str(tmp_path / "d"), mode="overwrite")
    new.write.parquet(str(tmp_path / "d"), mode="append")
    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "d"))
    assert set(merged.columns) == {"id", "v", "extra"}
    rows = {r.id: r.extra for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "x"}


def test_binary_file_source_feeds_multimodal(spark, tmp_path):
    """binaryFile ingestion -> media metadata -> decode stub: the
    end-to-end multimodal loading path."""
    from agnes_spark.operators.multimodal import attach_media_meta, decode_image_meta
    from agnes_spark.sources.formats import read_binary_files
    from pyspark.sql import functions as F

    payloads = {f"img_{i}.bin": bytes([i] * (10 + i)) for i in range(4)}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "skip.txt").write_text("not media")

    files = read_binary_files(spark, str(tmp_path), glob="*.bin")
    assert files.count() == 4
    ided = files.select(
        F.monotonically_increasing_id().alias("media_id"),
        F.col("content"),
        F.col("length"),
    )
    media = attach_media_meta(ided, "content", "image")
    assert "media_meta" in media.columns
    out = decode_image_meta(media, "content", "media_id")
    rows = out.collect()
    assert len(rows) == 4
    assert all(r.width >= 16 and r.height >= 16 for r in rows)


def test_text_source_and_zstd_parquet(spark, tmp_path):
    from agnes_spark.sources.formats import read_text

    (tmp_path / "a.txt").write_text("line one\nline two\n")
    lines = read_text(spark, str(tmp_path / "a.txt"))
    assert {r.value for r in lines.collect()} == {"line one", "line two"}
    whole = read_text(spark, str(tmp_path / "a.txt"), whole=True)
    assert whole.count() == 1

    df = spark.range(100).withColumnRenamed("id", "v")
    df.write.option("compression", "zstd").parquet(str(tmp_path / "z"))
    assert spark.read.parquet(str(tmp_path / "z")).count() == 100


def test_compact_parquet_in_place(spark, tmp_path):
    from agnes_spark.sources.formats import compact_parquet

    p = str(tmp_path / "frag")
    spark.range(1000).repartition(16).write.parquet(p)
    import os
    n_before = sum(f.endswith(".parquet") for f in os.listdir(p))
    assert n_before >= 16
    compact_parquet(spark, p, target_files=2)
    n_after = sum(f.endswith(".parquet") for f in os.listdir(p))
    assert n_after <= 2
    assert spark.read.parquet(p).count() == 1000


def test_orc_roundtrip_typed(spark, tmp_path):
    """ORC write/read preserves types and values (the third columnar
    format next to parquet; read_orc existed, write_orc closes it)."""
    from agnes_spark.sources.formats import read_orc, write_orc

    df = table(
        spark,
        {"k": [1, 2, 3], "s": ["a", None, "c"], "x": [1.5, 2.5, None]},
        types={"k": "long", "s": "string", "x": "double"},
    )
    write_orc(df, str(tmp_path / "o"))
    back = read_orc(spark, str(tmp_path / "o"))
    assert back.schema == df.schema
    assert sorted(back.collect(), key=lambda r: r.k) == sorted(
        df.collect(), key=lambda r: r.k
    )


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 built-in XML datasource (reference FUTURE.md lists XML
    under future source types): write -> read with explicit schema."""
    from agnes_spark.sources.formats import read_xml, write_xml

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", -1.0)], "id bigint, name string, x double"
    )
    out = str(tmp_path / "xml_out")
    write_xml(df, out, row_tag="item", root_tag="items")
    back = read_xml(spark, out, row_tag="item", schema="id bigint, name string, x double")
    assert {(r.id, r.name, r.x) for r in back.collect()} == {(1, "a", 2.5), (2, "b", -1.0)}


def test_jdbc_derby_roundtrip_partitioned_read(spark, sf_dir, tmp_path):
    """Embedded-Derby JDBC write + partitioned range read returns the
    exact source rows; the read plan carries num_partitions scans."""
    from agnes_spark.sources.jdbc import derby_url, read_jdbc, write_jdbc

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    url = derby_url(str(tmp_path / "db"))
    write_jdbc(nat, url, "nation_rt")
    back = read_jdbc(
        spark, url, "nation_rt",
        partition_column="n_nationkey", lower=0, upper=30, num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    a = {tuple(r) for r in nat.collect()}
    b = {tuple(r) for r in back.select(*nat.columns).collect()}
    assert a == b
    # append mode adds rows
    write_jdbc(nat.limit(3), url, "nation_rt", mode="append")
    assert read_jdbc(spark, url, "nation_rt").count() == len(a) + 3


def test_jdbc_filter_pushdown_reaches_scan(spark, sf_dir, tmp_path):
    """A filter over a JDBC read must be pushed into the remote query
    (PushedFilters on the JDBCRelation scan), not evaluated in Spark
    after transferring the whole table — the difference between
    shipping one partition and shipping the database."""
    from pyspark.sql import functions as F

    from agnes_spark.plans import plan_string
    from agnes_spark.sources.jdbc import derby_url, read_jdbc, write_jdbc

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    url = derby_url(str(tmp_path / "pushdb"))
    write_jdbc(nat, url, "nation_pd")
    back = read_jdbc(
        spark, url, "nation_pd",
        partition_column="n_nationkey", lower=0, upper=30, num_partitions=4,
    )
    p = plan_string(back.filter(F.col("n_regionkey") > 2).select("n_nationkey"))
    assert "JDBCRelation" in p and "numPartitions=4" in p
    # the predicate reaches the JDBC scan (shipped into the remote
    # query), and column pruning holds (only the projected column read)
    assert "GreaterThan(n_regionkey,2)" in p
    assert "ReadSchema: struct<n_nationkey:int>" in p


def test_read_parquet_merged_schema_drift(spark, tmp_path):
    """mergeSchema read unifies drifted batch schemas; pre-evolution
    rows surface NULL for the late column."""
    from agnes_spark.sources.formats import read_parquet_merged

    old = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, x double")
    new = spark.createDataFrame(
        [(3, 30.0, "c3")], "id bigint, x double, tag string"
    )
    old.write.parquet(str(tmp_path / "b1"))
    new.write.parquet(str(tmp_path / "b2"))
    back = read_parquet_merged(spark, str(tmp_path / "b1"), str(tmp_path / "b2"))
    assert set(back.columns) == {"id", "x", "tag"}
    rows = {r.id: (r.x, r.tag) for r in back.collect()}
    assert rows == {1: (10.0, None), 2: (20.0, None), 3: (30.0, "c3")}


def test_load_csv_tolerant_quarantines_malformed_rows(spark, tmp_path):
    """Malformed lines (wrong column count / broken quoting) land in
    the quarantine frame with their raw text; clean rows parse and
    type as usual. One scan serves both frames."""
    from agnes_spark.sources.csv import CsvSpec, load_csv_tolerant

    p = tmp_path / "messy.csv"
    p.write_text(
        "id,name,price\n"
        "1,apple,2.50\n"
        "2,\"broken quote,3.10\n"   # unclosed quote -> corrupt
        "3,cherry,4.00\n"
        "4,date\n"                   # missing column -> corrupt
        "5,elderberry,not_a_number\n"  # parses; cast nulls the field
    )
    spec = CsvSpec(
        fields={"id": ("id", "i64"), "name": ("name", "string"), "price": ("price", "f64")}
    )
    good, bad = load_csv_tolerant(spark, str(p), spec)
    rows = {r["id"]: r for r in good.collect()}
    assert set(rows) == {1, 3, 5}
    assert rows[3]["price"] == 4.00
    assert rows[5]["price"] is None  # cast failure nulls, row kept
    raws = [r["raw"] for r in bad.collect()]
    assert len(raws) == 2
    assert any("broken quote" in r for r in raws)
    assert any(r.startswith("4,date") for r in raws)


def test_load_csv_tolerant_repeat_calls_each_read_their_parse(spark, tmp_path):
    """Two calls over one path each return a (good, bad) pair that
    collects, and a call after the file is rewritten reads the new
    rows."""
    from agnes_spark.sources.csv import CsvSpec, load_csv_tolerant

    p = tmp_path / "messy.csv"
    p.write_text("id,name\n1,apple\n2\n")
    spec = CsvSpec(fields={"id": ("id", "i64"), "name": ("name", "string")})
    first = load_csv_tolerant(spark, str(p), spec)
    second = load_csv_tolerant(spark, str(p), spec)
    for good, bad in (first, second):
        assert [r["id"] for r in good.collect()] == [1]
        assert [r["raw"] for r in bad.collect()] == ["2"]
    p.write_text("id,name\n3,cherry\n4,date,extra\n5\n")
    good, bad = load_csv_tolerant(spark, str(p), spec)
    assert [r["id"] for r in good.collect()] == [3]
    assert sorted(r["raw"] for r in bad.collect()) == ["4,date,extra", "5"]


def test_catalog_sees_a_file_rewritten_at_the_same_path(spark, tmp_path):
    """The catalog reuses a resolved source only while the file's stat
    stamp holds: a rewrite with other rows and an added column is
    resolved again on the next read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2]}), p)
    first = read_parquet(spark, p)
    assert sorted(r.id for r in first.collect()) == [1, 2]
    assert sorted(r.id for r in read_parquet(spark, p).collect()) == [1, 2]

    pq.write_table(pa.table({"id": [7, 8, 9], "tag": ["a", "b", "c"]}), p)
    again = read_parquet(spark, p)
    assert again.columns == ["id", "tag"]
    assert sorted((r.id, r.tag) for r in again.collect()) == [(7, "a"), (8, "b"), (9, "c")]


def test_catalog_refreshes_frames_cached_over_a_rewritten_file(spark, tmp_path):
    """Spark's cache manager matches a persisted frame by its input's
    root path, not its content: after the file is rewritten in place
    (outside Spark), the next catalog read refreshes the path, so a
    frame cached over the old rows does not answer for the new ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3]}), p)
    cached = read_parquet(spark, p).filter("id > 1").persist()
    try:
        assert cached.count() == 2
        pq.write_table(pa.table({"id": [5, 6, 7, 8]}), p)
        again = read_parquet(spark, p).filter("id > 1")
        assert sorted(r.id for r in again.collect()) == [5, 6, 7, 8]
    finally:
        cached.unpersist()


def test_catalog_sees_a_directory_overwritten_by_spark(spark, tmp_path):
    out = str(tmp_path / "d")
    write_parquet(table(spark, {"a": [1, 2]}, types={"a": "bigint"}), out)
    assert read_parquet(spark, out).count() == 2
    write_parquet(table(spark, {"a": [5], "b": ["x"]}, types={"a": "bigint", "b": "string"}), out)
    back = read_parquet(spark, out)
    assert back.columns == ["a", "b"]
    assert [(r.a, r.b) for r in back.collect()] == [(5, "x")]


def test_catalog_reads_are_fresh_relations(spark, tmp_path):
    """Two catalog reads of one table self-join like two spark.read
    calls: each is a new instance of the resolved relation."""
    p = str(tmp_path / "s.parquet")
    write_parquet(table(spark, {"k": [1, 2, 3], "v": [10, 20, 30]},
                        types={"k": "bigint", "v": "bigint"}), p)
    a, b = read_parquet(spark, p), read_parquet(spark, p)
    j = a.join(b, a["k"] == b["k"] + 1).select(a["v"].alias("av"), b["v"].alias("bv"))
    assert sorted((r.av, r.bv) for r in j.collect()) == [(20, 10), (30, 20)]


def test_catalog_entries_stay_with_their_session(spark, tmp_path):
    """An entry resolved in one session is never returned to another."""
    from agnes_spark.sources.catalog import _ATTR

    p = str(tmp_path / "x.parquet")
    write_parquet(table(spark, {"a": [1]}, types={"a": "bigint"}), p)
    read_parquet(spark, p)
    assert p in spark.__dict__[_ATTR]

    other = spark.newSession()
    assert _ATTR not in other.__dict__
    df = read_parquet(other, p)
    assert df.sparkSession is other
    assert list(other.__dict__[_ATTR]) == [p]
    assert other.__dict__[_ATTR] is not spark.__dict__[_ATTR]
    assert read_parquet(spark, p).sparkSession is spark


def test_catalog_drops_entries_of_deleted_inputs(spark, tmp_path):
    """Reads of throwaway directories do not pile up: the next miss
    drops every entry whose path is gone."""
    import shutil

    from agnes_spark.sources.catalog import _ATTR

    df = table(spark, {"a": [1, 2]}, types={"a": "bigint"})
    tmps = [str(tmp_path / f"tmp{i}") for i in range(5)]
    for d in tmps:
        write_parquet(df, d)
        assert read_parquet(spark, d).count() == 2
    entries = spark.__dict__[_ATTR]
    assert all(d in entries for d in tmps)
    for d in tmps:
        shutil.rmtree(d)

    keep = str(tmp_path / "keep")
    write_parquet(df, keep)
    read_parquet(spark, keep)
    assert not any(d in entries for d in tmps)
    assert keep in entries
    assert all(os.path.exists(p) for p in entries)


def _to_multiset(cols, rows):
    """(sorted columns, sorted normalized rows): the comparison
    scripts/check_oracle.py applies to a registry key and its oracle."""
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(repo, "scripts", "check_oracle.py")
    )
    check_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracle)
    return check_oracle.to_multiset(cols, [tuple(r) for r in rows])


def _duckdb(tables_dir, sql):
    import duckdb

    con = duckdb.connect()
    for name in os.listdir(tables_dir):
        con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{tables_dir}/{name}'")
    res = con.execute(sql)
    return _to_multiset([d[0] for d in res.description], res.fetchall())


def test_registry_ops_see_an_input_rewritten_at_the_same_path(spark, sf_dir, tmp_path):
    """Ops that write a derived copy of their input (schema-evolution
    batches, a compacted layout, the co-purchase graph, the BM25
    index) rebuild it on every call: after the input is overwritten at
    the same path with a subset of its rows, the next call answers for
    the new rows."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod

    tables = str(tmp_path / "tables")
    shutil.copytree(sf_dir, tables)
    os.chmod(tables, 0o755)
    for name in os.listdir(tables):
        os.chmod(os.path.join(tables, name), 0o644)
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    cases = [
        ("schema_evolution_read", "orders", "o_orderkey"),
        ("compaction_roundtrip", "events", "event_id"),
        ("khop_reach_copurchase", "lineitem", "l_orderkey"),
        ("search_bm25_topk", "documents", "doc_id"),
    ]
    for key, table_name, id_col in cases:
        df = queries[key](spark, tables)
        first = _to_multiset(df.columns, df.collect())
        assert first == _duckdb(tables, oracles[key]), key

        path = os.path.join(tables, f"{table_name}.parquet")
        t = pq.read_table(path)
        keep = t.column(id_col).to_numpy() % 3 != 0
        pq.write_table(t.filter(pa.array(keep)), path)

        df = queries[key](spark, tables)
        second = _to_multiset(df.columns, df.collect())
        assert second == _duckdb(tables, oracles[key]), key
        assert second != first, key


def test_registry_write_ops_leave_no_temp_dirs(spark, sf_dir):
    """Registry ops that write files (format round-trips, stream
    sources and checkpoints, dedup and rollup state) write under the
    registry's one per-process scratch directory, so repeated calls
    create no temp directory of their own."""
    import tempfile

    import __spark_entry__ as entrymod

    def agnes_dirs():
        return {d for d in os.listdir(tempfile.gettempdir()) if d.startswith("agnes_")}

    keys = [
        "csv_roundtrip",
        "xml_roundtrip",
        "orc_roundtrip",
        "serialize_roundtrip",
        "check_incremental_rollup",
        "dedup_incremental",
        "stream_ingest_dedup",
        "stream_sessionize",
        "stream_dedup",
        "stream_ingest_neardup",
        "stream_windowed",
        "stream_band_join",
        "stream_enrich_join",
    ]
    queries = entrymod.queries()
    before = agnes_dirs()
    for key in keys:
        for _ in range(2):
            queries[key](spark, sf_dir).collect()
    # the scratch parent itself is created on first use and removed at exit
    scratch = {os.path.basename(d) for d in entrymod._GATE_SCRATCH}
    assert agnes_dirs() - before <= scratch
