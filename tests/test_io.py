"""I/O layer tests (SURVEY.md §2.1): partitioned write → partition-pruned
read (the 100 TB story for every ``WHERE symbol = ?`` query the
reference issues), schema normalization (P9/S6), CSV export (S7).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from finance_data_pipeline_spark import fixtures
from finance_data_pipeline_spark.io import export_csv, normalize_stocks, write_stocks

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "stocks")
    write_stocks(fixtures.stocks(spark, SF_DIR), path)
    return path


def test_partitioned_store_roundtrip(spark, store):
    orig = fixtures.stocks(spark, SF_DIR)
    back = spark.read.parquet(store)
    assert back.count() == orig.count()
    assert set(back.columns) == set(orig.columns)


def test_symbol_filter_is_partition_pruned(spark, store):
    """WHERE symbol = ? must prune partitions at plan time — a metadata
    lookup, not a scan (io.write_stocks docstring; SURVEY.md §4)."""
    df = spark.read.parquet(store).filter(F.col("symbol") == "S7")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # The partition filter must carry the symbol predicate.
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line][0]
    assert "S7" in pf, pf
    assert df.count() > 0


def test_normalize_stocks_renames_and_casts(spark):
    """P9/S6: yfinance-shaped input (MultiIndex-flattened spellings,
    missing adj_close tolerated) → canonical schema."""
    raw = spark.createDataFrame(
        [("aapl", "2024-01-02", "10.5", "11.0", "10.0", "10.8", "1000")],
        "Symbol string, Date string, Open string, High string, Low string, `Close` string, Volume string",
    )
    out = normalize_stocks(raw)
    row = out.collect()[0]
    assert row["symbol"] == "aapl"
    assert isinstance(row["open"], float)
    assert row["volume"] == 1000
    assert row["adj_close"] == pytest.approx(10.8)  # falls back to close


def test_normalize_stocks_fills_nan_defaults(spark):
    """P8: NaN→0 coalescing at the ingest boundary
    (fetch_and_store_multi.py:164-169)."""
    raw = spark.createDataFrame(
        [("A", "2024-01-02", None, 11.0, 10.0, 10.8, None)],
        "symbol string, date string, open double, high double, low double, close double, volume bigint",
    )
    row = normalize_stocks(raw).collect()[0]
    assert row["open"] == 0.0
    assert row["volume"] == 0


ADVERSARIAL_STRINGS = [
    (1, "plain"),
    (2, "comma, inside"),
    (3, 'quote " inside'),
    (4, "newline\ninside"),
    (5, "crlf\r\ninside"),
    (6, "unicode 数据 🚀 café"),
    (7, ""),
    (8, None),
    (9, "trailing space   "),
    (10, "tab\tinside"),
]


def test_csv_roundtrip_value_fidelity(spark, tmp_path):
    """CSV round-trip must preserve VALUES, not just row counts: the
    default reader splits quoted embedded newlines into garbage rows
    (silently — found by adversarial-string probing), the default
    writer strips trailing whitespace, and empty-vs-NULL collapses
    without the emptyValue/nullValue pairing. Pins export_csv +
    read_csv as an exact round trip over all of those."""
    from finance_data_pipeline_spark.io import export_csv, read_csv

    df = spark.createDataFrame(ADVERSARIAL_STRINGS, "id int, txt string")
    path = str(tmp_path / "csv_adv")
    export_csv(df, path)
    back = read_csv(spark, path, schema=df.schema)
    got = {r.id: r.txt for r in back.collect()}
    assert got == dict(ADVERSARIAL_STRINGS)


def test_json_roundtrip_value_fidelity(spark, tmp_path):
    """Same adversarial strings through the JSON path — natively exact
    (JSON escapes everything), pinned so a future option change can't
    regress it."""
    from finance_data_pipeline_spark.io import export_json, read_json

    df = spark.createDataFrame(ADVERSARIAL_STRINGS, "id int, txt string")
    path = str(tmp_path / "json_adv")
    export_json(df, path)
    back = read_json(spark, path, schema=df.schema)
    got = {r.id: r.txt for r in back.collect()}
    assert got == dict(ADVERSARIAL_STRINGS)


def test_xml_roundtrip_value_fidelity(spark, tmp_path):
    """XML path over the adversarial strings (plus XML's own hazards:
    markup characters, ]]> and an ampersand). The reader's
    ignoreSurroundingSpaces default (true) silently trims meaningful
    trailing whitespace — read_xml flips it off since export_xml
    writes values tight."""
    from finance_data_pipeline_spark.io import export_xml, read_xml

    rows = ADVERSARIAL_STRINGS + [(11, "<tag> & ampersand"), (12, "]]> closer")]
    df = spark.createDataFrame(rows, "id int, txt string")
    path = str(tmp_path / "xml_adv")
    export_xml(df, path)
    back = read_xml(spark, path, schema=df.schema)
    got = {r.id: r.txt for r in back.collect()}
    assert got == dict(rows)


def test_csv_export_roundtrip(spark, tmp_path):
    df = fixtures.stocks(spark, SF_DIR).select("symbol", "date", "close")
    path = str(tmp_path / "csv_out")
    export_csv(df, path)
    back = spark.read.option("header", "true").csv(path)
    assert back.count() == df.count()
    assert back.columns == ["symbol", "date", "close"]


def test_json_roundtrip_preserves_rows(spark, tmp_path):
    from finance_data_pipeline_spark.io import export_json, read_json, table

    src = table(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_json")
    export_json(src, path)
    back = read_json(spark, path, schema=src.schema)
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in src.collect()
    )
    assert back.schema == src.schema


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    from finance_data_pipeline_spark.io import export_orc, read_orc, table

    src = table(spark, SF_DIR, "supplier")
    path = str(tmp_path / "supplier_orc")
    export_orc(src, path)
    back = read_orc(spark, path).filter("s_suppkey = 7").select("s_suppkey", "s_name")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == src.filter("s_suppkey = 7").count()
    # predicate must reach the ORC scan, not evaluate post-scan only
    assert "PushedFilters: [IsNotNull(s_suppkey), EqualTo(s_suppkey,7)]" in plan or "s_suppkey" in plan


def test_read_csv_explicit_schema_single_pass(spark, tmp_path):
    from finance_data_pipeline_spark.io import export_csv, read_csv, table

    src = table(spark, SF_DIR, "region")
    path = str(tmp_path / "region_csv")
    export_csv(src, path)
    back = read_csv(spark, path, schema=src.schema)
    assert back.schema == src.schema
    assert back.count() == src.count()


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """write_jdbc → read_jdbc round-trip against the Derby embedded
    database bundled with Spark — a real JDBC wire path (driver class,
    batched inserts, partitioned read), no network required."""
    from finance_data_pipeline_spark.io import read_jdbc, table, write_jdbc

    src = table(spark, SF_DIR, "region")
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    write_jdbc(src, url, "region_copy", mode="overwrite", driver=driver)
    back = read_jdbc(spark, url, "region_copy", driver=driver)
    assert back.count() == src.count()
    assert sorted(c.lower() for c in back.columns) == sorted(c.lower() for c in src.columns)

    # Partitioned read: range predicates fan the scan out.
    part = read_jdbc(
        spark, url, "region_copy",
        partition_column="r_regionkey", lower_bound=0, upper_bound=5, num_partitions=3,
        driver=driver,
    )
    assert part.rdd.getNumPartitions() == 3
    assert part.count() == src.count()

    # Value fidelity over the adversarial strings (same corpus as the
    # CSV/XML pins, plus a single quote — SQL's own hazard): the JDBC
    # wire path is natively exact, pinned so it stays that way.
    adv = ADVERSARIAL_STRINGS + [(11, "single ' quote")]
    df = spark.createDataFrame(adv, "id int, txt string")
    write_jdbc(df, url, "adv_copy", mode="overwrite", driver=driver)
    got = {
        r.id: r.txt for r in read_jdbc(spark, url, "adv_copy", driver=driver).collect()
    }
    assert got == dict(adv)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key must join with zero Exchange
    (shuffle) operators — the write paid the shuffle once; the join is
    co-located. This is the bucketing contract the 100 TB design leans
    on (SURVEY.md §4)."""
    from finance_data_pipeline_spark.io import table, write_bucketed

    orders = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    lineitem = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "orders_b", ["o_orderkey"], n_buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", ["o_orderkey"], n_buckets=8,
    )
    try:
        ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
        # Disable broadcast so the test exercises the sort-merge path the
        # bucketing is designed for (AQE would broadcast at this SF).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = ob.join(lb, "o_orderkey").groupBy("o_custkey").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan.split("SortMergeJoin")[-1], (
            "bucketed join must not re-shuffle its inputs:\n" + plan
        )
        got = joined.agg({"count": "sum"}).collect()[0][0]
        want = lineitem.count()
        assert got == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_read_csv_permissive_quarantines_corrupt_rows(spark, tmp_path):
    """Malformed CSV lines must land in _corrupt_record, not kill the
    job; clean rows parse normally."""
    from pyspark.sql.types import StructType

    from finance_data_pipeline_spark.io import read_csv_permissive

    p = tmp_path / "dirty.csv"
    p.write_text("symbol,close,volume\nAAA,10.5,100\nBBB,not_a_number,zzz\nCCC,12.25,300\n")
    schema = (
        StructType()
        .add("symbol", "string")
        .add("close", "double")
        .add("volume", "long")
    )
    df = read_csv_permissive(spark, str(p), schema).cache()
    bad = df.filter(df["_corrupt_record"].isNotNull())
    good = df.filter(df["_corrupt_record"].isNull())
    assert df.count() == 3
    assert bad.count() == 1
    assert bad.collect()[0]["_corrupt_record"].startswith("BBB")
    assert {r["symbol"] for r in good.collect()} == {"AAA", "CCC"}


def test_zorder_write_tightens_file_stats_in_both_dims(spark, tmp_path):
    """Z-ordered layout must give tight per-file min/max ranges in BOTH
    z-dimensions (multi-predicate data skipping); a linear sort only
    tightens its leading column. Verified from the parquet footers."""
    import glob

    import pyarrow.parquet as pq

    from finance_data_pipeline_spark.io import table, write_zordered

    events = table(spark, SF_DIR, "events").select("user_id", "value", "event_id")

    zpath = str(tmp_path / "zordered")
    lpath = str(tmp_path / "linear")
    write_zordered(events, zpath, ["user_id", "value"], n_files=8)
    # Linear baseline: range-partitioned + sorted by user_id only.
    events.repartitionByRange(8, "user_id").sortWithinPartitions("user_id").write.parquet(lpath)

    def avg_span_frac(path, col):
        spans, lo_all, hi_all = [], None, None
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            spans.append(hi - lo)
            lo_all = lo if lo_all is None else min(lo_all, lo)
            hi_all = hi if hi_all is None else max(hi_all, hi)
        return (sum(spans) / len(spans)) / (hi_all - lo_all)

    # user_id: both layouts cluster it.
    assert avg_span_frac(zpath, "user_id") < 0.6
    # value: only the z-order clusters it; linear layout files span ~everything.
    z_val = avg_span_frac(zpath, "value")
    lin_val = avg_span_frac(lpath, "value")
    assert z_val < 0.6 < lin_val, (z_val, lin_val)


def test_binary_file_source_roundtrip(spark, tmp_path):
    """binaryFile source: whole files as (path, length, content) rows;
    pathGlobFilter prunes at listing time; the adapter feeds the
    multimodal media pipeline unchanged."""
    from finance_data_pipeline_spark.extensions.multimodal import media_manifest
    from finance_data_pipeline_spark.io import binary_files_as_media, read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01payload-a")
    (tmp_path / "b.bin").write_bytes(b"payload-b")
    (tmp_path / "skip.txt").write_text("not binary payload")

    files = read_binary_files(spark, str(tmp_path), pattern="*.bin")
    rows = {r.path.split("/")[-1]: r for r in files.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"].content) == b"\x00\x01payload-a"
    assert rows["b.bin"].length == 9

    manifest = media_manifest(binary_files_as_media(files, modality="blob"))
    out = {r.media_id.split("/")[-1]: r for r in manifest.collect()}
    assert out["b.bin"].n_bytes == 9
    assert out["a.bin"].n_bytes == 11


def test_text_line_source(spark, tmp_path):
    from finance_data_pipeline_spark.io import read_text_lines

    (tmp_path / "x.txt").write_text("line one\nline two\n")
    (tmp_path / "y.txt").write_text("solo")
    lines = read_text_lines(spark, str(tmp_path))
    assert sorted(r.value for r in lines.collect()) == ["line one", "line two", "solo"]
    whole = read_text_lines(spark, str(tmp_path), wholetext=True)
    assert sorted(r.value for r in whole.collect()) == ["line one\nline two\n", "solo"]


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 built-in XML: write rows under a rowTag, read back with
    an explicit schema — values and types survive the round-trip."""
    from finance_data_pipeline_spark.io import export_xml, read_xml

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.25)], "id long, name string, score double"
    )
    path = str(tmp_path / "xml_out")
    export_xml(df, path)
    back = read_xml(spark, path, schema="id long, name string, score double")
    assert sorted((r.id, r.name, r.score) for r in back.collect()) == [
        (1, "alpha", 1.5),
        (2, "beta", -2.25),
    ]


def test_custom_ohlcv_source_partitioning_and_determinism(spark):
    """The Python DataSource plans one partition per symbol and yields
    identical bars across reads (no RNG, no state)."""
    from finance_data_pipeline_spark.sources.ohlcv_source import (
        SyntheticOHLCVSource,
    )

    try:
        spark.dataSource.register(SyntheticOHLCVSource)
    except Exception:
        pass
    rd = (
        spark.read.format("synthetic_ohlcv")
        .option("symbols", "aapl, msft")
        .option("days", 7)
    )
    df = rd.load()
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 14
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, rd.load().collect()))
    assert a == b
    row = a[0]
    assert row[0] == "AAPL"  # options lower-cased symbols are upper-cased
    # OHLC invariants: high >= max(open, close), low <= min(open, close)
    for r in a:
        assert r[3] >= max(r[2], r[5]) and r[4] <= min(r[2], r[5])
        assert r[6] >= 1000


def test_custom_ohlcv_stream_offsets_resume_and_match_batch(spark, tmp_path):
    """The streaming reader's day cursor lives in the checkpoint: each
    availableNow run drains exactly one daysPerBatch step and a
    restarted query RESUMES from the committed offset (no re-delivery,
    no gap); fully drained, the file sink equals the batch reader
    bit-for-bit."""
    from finance_data_pipeline_spark.sources.ohlcv_source import (
        SyntheticOHLCVSource,
    )

    try:
        spark.dataSource.register(SyntheticOHLCVSource)
    except Exception:
        pass
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("synthetic_ohlcv")
            .option("symbols", "AAPL,GOOG")
            .option("days", 25)
            .option("daysPerBatch", 10)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return spark.read.parquet(out).count()

    # 25 days x 2 symbols in 10-day steps: 20, 40, 50, then a no-op run
    assert run_once() == 20
    assert run_once() == 40
    assert run_once() == 50
    assert run_once() == 50
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    batch = (
        spark.read.format("synthetic_ohlcv")
        .option("symbols", "AAPL,GOOG")
        .option("days", 25)
        .load()
    )
    assert got == sorted(map(tuple, batch.collect()))


def test_compact_parquet_merges_small_files_preserving_rows(spark, tmp_path):
    """64 kilobyte-scale files compact into the expected handful of
    similarly-sized files with identical data; maxRecordsPerFile also
    bounds the other direction (no single giant output file)."""
    from finance_data_pipeline_spark.io import compact_parquet

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "fragmented")
    ev.repartition(64).write.parquet(src)
    import glob
    import os

    n_src = len([
        f for f in glob.glob(os.path.join(src, "*.parquet"))
        if not os.path.basename(f).startswith(("_", "."))
    ])
    assert n_src == 64
    dst = str(tmp_path / "compacted")
    total = ev.count()
    n_out = compact_parquet(spark, src, dst, target_rows_per_file=total // 3)
    # ceil(total / (total//3)) = 4 files (integer division remainder)
    assert n_out == -(-total // (total // 3))
    back = spark.read.parquet(dst)
    assert back.count() == total
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, ev.collect()))


def test_avro_round_trip_or_documented_gate(spark, tmp_path):
    """Avro ships as an EXTERNAL Spark module; this container has no
    network to deploy it, so the helper must either round-trip (module
    present) or fail with the deploy instruction — never a raw
    ClassNotFound at run time."""
    import pytest

    from finance_data_pipeline_spark.io import avro_available, export_avro, read_avro

    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    path = str(tmp_path / "avro")
    if avro_available(spark):
        export_avro(df, path)
        assert read_avro(spark, path).count() == 5
    else:
        with pytest.raises(RuntimeError, match="spark-avro"):
            export_avro(df, path)


def test_bloom_filter_write_costs_bytes_and_roundtrips(spark, tmp_path):
    """The bloom-filter writer must actually emit filters: same data,
    same single-file layout, the bloom-enabled file is strictly larger
    (the filter bitset rides in the footer), while Spark, pyarrow and
    DuckDB all read identical rows back. An equality probe on the
    filtered column still reaches the scan as a pushed filter."""
    import glob
    import os

    from finance_data_pipeline_spark.io import write_parquet_bloom

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloomed")
    one = docs.coalesce(1)
    one.write.option("compression", "zstd").parquet(plain)
    write_parquet_bloom(
        one, bloomed, bloom_cols=["doc_id", "source"], ndv=1000
    )

    def data_file(d):
        [f] = [
            f for f in glob.glob(os.path.join(d, "*.parquet"))
            if not os.path.basename(f).startswith(("_", "."))
        ]
        return f

    assert os.path.getsize(data_file(bloomed)) > os.path.getsize(data_file(plain))

    back = spark.read.parquet(bloomed)
    assert back.count() == docs.count()
    probe = back.filter(F.col("doc_id") == 42)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "doc_id" in plan
    assert probe.count() == docs.filter(F.col("doc_id") == 42).count()

    import duckdb

    assert (
        duckdb.sql(
            f"SELECT count(*) FROM '{data_file(bloomed)}'"
        ).fetchone()[0]
        == docs.count()
    )
