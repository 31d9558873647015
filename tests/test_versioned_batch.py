"""Batch half of the versioned_table Python Data Source (round 13,
VERDICT r12 #1): snapshot/time-travel/change-feed relations + the
VersionedTable.sql()/to_view() SQL front door."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unity_to_bigquery_spark.plans.versioned import VersionedTable
from unity_to_bigquery_spark.sources.versioned_stream import register


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _mk(spark, root, nchunks=3, rows_per=8):
    t = VersionedTable(spark, root)
    for c in range(nchunks):
        t.commit_append(
            spark.createDataFrame(
                [(c * 100 + i, f"tag{c}", float(i)) for i in range(rows_per)],
                "k INT, tag STRING, x DOUBLE",
            ).coalesce(1)
        )
    return t


def _ds(spark, root, **opts):
    register(spark)
    r = spark.read.format("versioned_table").option("path", root)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def _rows(df):
    """Multiset of a frame's rows (nested structs included)."""
    return sorted(map(tuple, df.collect()), key=repr)


def _props_df(spark, rows):
    """rows: (k, lang, score) -> k INT, props STRUCT<lang STRING, score INT>"""
    return spark.createDataFrame(
        rows, "k INT, lang STRING, score INT"
    ).selectExpr("k", "struct(lang, score) AS props").coalesce(1)


def _shape_plain_struct(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_props_df(spark, [(1, "en", 3), (2, "fr", 5)]))
    t.commit_append(_props_df(spark, [(3, "de", 9)]))
    return t, (1, 2), ("props", "attrs"), ["k", "attrs"]


def _shape_nested_rename_add_promote(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_props_df(spark, [(1, "en", 3), (2, "fr", 5)]))
    t.rename_nested_field("props", "lang", "language")
    t.add_nested_field("props", "rank", "long")
    t.promote_nested_field("props", "score", "long")
    t.commit_append(spark.createDataFrame(
        [(3, "de", 9, 1)], "k INT, language STRING, score LONG, rank LONG"
    ).selectExpr("k", "struct(language, score, rank) AS props").coalesce(1))
    return t, (1, 2), ("props", "attrs"), ["k", "attrs"]


def _shape_struct_default_nested_rename(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(spark.createDataFrame([(1,), (2,)], "k INT").coalesce(1))
    t.add_column(
        "props", "struct<lang:string,score:int>",
        default="named_struct('lang', 'xx', 'score', 0)",
    )
    t.commit_append(
        _props_df(spark, [(3, "en", 7)]).select(
            "k", F.col("props").cast("struct<lang:string,score:int>")
        )
    )
    t.rename_nested_field("props", "score", "pts")
    return t, (1, 2), ("props", "attrs"), ["k", "attrs"]


def _shape_column_default(spark, root):
    t = _mk(spark, root)
    t.add_column("note", "string", default="'n/a'")
    t.commit_append(
        spark.createDataFrame(
            [(999, "z", 0.0, "real")], "k INT, tag STRING, x DOUBLE, note STRING"
        ).coalesce(1)
    )
    return t, (3, 102), ("tag", "label"), ["k", "label", "x", "note"]


_PARITY_SHAPES = {
    "plain_struct": _shape_plain_struct,
    "nested_rename_add_promote": _shape_nested_rename_add_promote,
    "struct_default_nested_rename": _shape_struct_default_nested_rename,
    "column_default": _shape_column_default,
}


@pytest.mark.parametrize("shape", list(_PARITY_SHAPES))
def test_batch_snapshot_matches_programmatic(spark, root, tmp_path, shape):
    """Every DSv2 reader ≡ its Spark-plan twin on an evolved table:
    the append stream and the snapshot relation ≡ read(), the batch
    change feed ≡ changes_with_type(0). Shapes cover nested field-ID
    mapping (member rename/add/promote), struct and top-level initial
    defaults; then pre-evolution rows die by position (DV sidecar) and
    by key and a column is renamed, so the snapshot and the feed's
    retractions read old files through the evolved layout."""
    t, (pos_k, eq_k), (old, new), columns = _PARITY_SHAPES[shape](spark, root)
    register(spark)
    sink = f"parity_{shape}"
    (
        spark.readStream.format("versioned_table").option("path", root)
        .load()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    streamed, snap = spark.table(sink), t.read()
    assert streamed.schema.simpleString() == snap.schema.simpleString()
    assert _rows(streamed) == _rows(snap), "append stream vs read()"
    t.delete_rows_where(f"k = {pos_k}", mode="mor")  # positional (DV sidecar)
    t.commit_delete_where(spark.createDataFrame([(eq_k,)], "k INT"), "k")
    t.rename_column(old, new)
    ds = _ds(spark, root)
    assert ds.columns == columns
    assert _rows(ds) == _rows(t.read()), "snapshot vs read()"
    cdf = _ds(spark, root, readChangeFeed="true", startingVersion=0)
    # the Spark-plan feed unions per-commit frames by name, so its
    # column order follows the first commit's schema: align by name
    feed = t.changes_with_type(0).select(*cdf.columns)
    assert _rows(cdf) == _rows(feed), "change feed vs changes_with_type"


def test_generated_column_predating_file_refused(spark, root, tmp_path):
    """The DSv2 relations do not evaluate SQL: a planned file that
    predates a generated column is refused loudly (naming the column
    and the programmatic read), never read as NULL. Files written after
    the column carry materialized values and stream normally."""
    t = _mk(spark, root, nchunks=1)
    t.add_generated_column("x2", "double", "x * CAST(2 AS DOUBLE)")
    v_add = t.latest_version()
    t.commit_append(
        spark.createDataFrame([(50, "g", 4.0)], "k INT, tag STRING, x DOUBLE")
    )
    refusal = r"(?s)generated column 'x2'.*VersionedTable\.read\(\)"
    with pytest.raises(Exception, match=refusal):
        _ds(spark, root).collect()

    def stream(name, **opts):
        r = spark.readStream.format("versioned_table").option("path", root)
        for k, v in opts.items():
            r = r.option(k, str(v))
        q = (
            r.load().writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.table(name)

    with pytest.raises(Exception, match=refusal):
        stream("gen_all")
    tail = stream("gen_tail", starting_version=v_add)
    assert [tuple(r) for r in tail.collect()] == [(50, "g", 4.0, 8.0)]


def test_batch_version_and_timestamp_asof(spark, root):
    t = _mk(spark, root, nchunks=2)
    v1_ts = t.manifest(1)["ts"]
    assert _ds(spark, root, versionAsOf=1).count() == t.read(1).count() == 8
    assert _ds(spark, root, timestampAsOf=v1_ts).count() == 8
    with pytest.raises(Exception, match="mutually exclusive"):
        _ds(spark, root, versionAsOf=1, timestampAsOf=v1_ts).count()


def test_batch_pushdown_prunes_partitions(spark, root):
    """pushdown=true narrows the planned InputPartitions via manifest
    range stats; rows stay exact (Spark re-applies every filter).
    pack_rows=0 disables the round-14 multi-file packing so partition
    count == planned FILE count and pruning is directly assertable."""
    t = _mk(spark, root, nchunks=4)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        full = _ds(spark, root, pushdown="true", pack_rows=0)
        assert full.rdd.getNumPartitions() == 4
        # inclusive bounds: strict < conservatively prunes as <= (rule
        # 30 — fixture MIN edges), so <= 199 is the 1-file predicate
        pruned = _ds(spark, root, pushdown="true", pack_rows=0).filter(
            (F.col("k") >= 100) & (F.col("k") <= 199)
        )
        assert pruned.rdd.getNumPartitions() == 1
        assert sorted(r.k for r in pruned.collect()) == [
            100 + i for i in range(8)
        ]
        # IN-list + equality paths
        eq = _ds(spark, root, pushdown="true", pack_rows=0).filter(
            F.col("k") == 205
        )
        assert eq.rdd.getNumPartitions() == 1
        assert [r.k for r in eq.collect()] == [205]
        inl = _ds(spark, root, pushdown="true", pack_rows=0).filter(
            F.col("k").isin(5, 305)
        )
        assert inl.rdd.getNumPartitions() == 2
        # default packing composes WITH pruning: the two stats-
        # surviving tiny files pack into ONE planned partition, and
        # rows stay exact
        packed = _ds(spark, root, pushdown="true").filter(
            F.col("k").isin(5, 305)
        )
        assert packed.rdd.getNumPartitions() == 1
        assert sorted(r.k for r in packed.collect()) == [5, 305]
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_batch_multi_file_partition_packing(spark, root):
    """Round 14 (VERDICT r13 #2): per-file specs bin-pack into
    row-budgeted InputPartitions — partition count tracks rows, not
    file count — while rows stay exactly the per-file union (MoR
    deletes, rename, evolution all apply per file inside one task)."""
    t = _mk(spark, root, nchunks=6)
    t.delete_rows_where("k = 3", mode="mor")
    t.commit_delete_where(spark.createDataFrame([(102,)], "k INT"), "k")
    t.rename_column("tag", "label")
    expect = {tuple(r) for r in t.read().collect()}
    # default budget (1M rows): 6 tiny files -> ONE planned partition
    ds = _ds(spark, root)
    assert ds.rdd.getNumPartitions() == 1
    assert {tuple(r) for r in ds.collect()} == expect
    # explicit budget: ~2 files per bin (8192 open-charge + 8 rows)
    ds2 = _ds(spark, root, pack_rows=17000)
    assert ds2.rdd.getNumPartitions() == 3
    assert {tuple(r) for r in ds2.collect()} == expect
    # packing off: one partition per live file (pre-r14 layout)
    ds0 = _ds(spark, root, pack_rows=0)
    assert ds0.rdd.getNumPartitions() == 6
    assert {tuple(r) for r in ds0.collect()} == expect
    # CDF relation packs too, and stays exact
    cdf = _ds(spark, root, readChangeFeed="true", startingVersion=0)
    bat = t.changes_with_type(0)
    assert sorted(map(tuple, cdf.collect())) == sorted(
        map(tuple, bat.collect())
    )
    assert cdf.rdd.getNumPartitions() < _ds(
        spark, root, readChangeFeed="true", startingVersion=0, pack_rows=0
    ).rdd.getNumPartitions()


def test_batch_cdf_matches_changes_with_type(spark, root):
    t = _mk(spark, root, nchunks=2)
    v0 = t.latest_version()
    t.commit_delete_where(spark.createDataFrame([(3,), (101,)], "k INT"), "k")
    t.commit_append(
        spark.createDataFrame([(500, "new", 1.0)], "k INT, tag STRING, x DOUBLE")
    )
    cdf = _ds(spark, root, readChangeFeed="true", startingVersion=v0)
    bat = t.changes_with_type(v0)
    assert sorted(map(tuple, cdf.collect())) == sorted(
        map(tuple, bat.collect())
    )
    # bounded window + empty-window sentinel
    w = _ds(
        spark, root, readChangeFeed="true",
        startingVersion=v0, endingVersion=v0 + 1,
    )
    assert sorted(map(tuple, w.collect())) == sorted(
        map(tuple, t.changes_with_type(v0, v0 + 1).collect())
    )
    empty = _ds(
        spark, root, readChangeFeed="true",
        startingVersion=v0, endingVersion=v0,
    )
    assert empty.count() == 0


def test_batch_branch_read(spark, root):
    t = _mk(spark, root, nchunks=1)
    t.create_branch("wap")
    t.branch("wap").commit_append(
        spark.createDataFrame([(77, "b", 7.0)], "k INT, tag STRING, x DOUBLE")
    )
    main = _ds(spark, root)
    br = _ds(spark, root, branch="wap")
    assert main.count() == 8 and br.count() == 9
    assert 77 in {r.k for r in br.collect()}


def test_sql_front_door_time_travel(spark, root):
    t = _mk(spark, root, nchunks=2)
    # VERSION AS OF rewrite + bare reference in one statement
    got = t.sql(
        "SELECT (SELECT COUNT(*) FROM t VERSION AS OF 1) AS old, "
        "COUNT(*) AS new FROM t"
    ).first()
    assert (got.old, got.new) == (8, 16)
    # TIMESTAMP AS OF (epoch literal)
    ts = t.manifest(1)["ts"]
    assert t.sql(f"SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF {ts}").first().n == 8
    # a quoted literal containing the phrase never rewrites
    lit = t.sql("SELECT 't VERSION AS OF 1' AS s FROM t LIMIT 1").first().s
    assert lit == "t VERSION AS OF 1"
    # to_view is a PINNED snapshot
    t.to_view("pinned_v")
    t.commit_append(
        spark.createDataFrame([(9, "q", 0.0)], "k INT, tag STRING, x DOUBLE")
    )
    assert spark.sql("SELECT COUNT(*) AS n FROM pinned_v").first().n == 16
    assert t.table_changes(2).count() == 1


def test_batch_arrow_fast_path_no_fallback(spark, root):
    """The one executor (read_file_spec) handles the full snapshot
    semantics set directly — eq-deletes (null keys never match),
    positional deletes, rename, additive evolution NULL-fill, initial
    default, int→long promotion — per planned spec, with nothing to
    fall back to."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from unity_to_bigquery_spark.sources.versioned_batch import (
        make_batch_reader,
    )
    from unity_to_bigquery_spark.sources.versioned_stream import (
        read_file_spec,
    )

    t = _mk(spark, root)
    t.delete_rows_where("k = 3", mode="mor")  # positional
    t.commit_delete_where(spark.createDataFrame([(102,)], "k INT"), "k")
    t.add_column("note", "string", default="'n/a'")
    t.commit_append(
        spark.createDataFrame(
            [(999, "z", 0.0, "real")],
            "k INT, tag STRING, x DOUBLE, note STRING",
        ).coalesce(1)
    )
    t.rename_column("tag", "label")
    t.promote_column("k", "bigint")
    struct = t.read().schema
    reader = make_batch_reader({"path": root}, struct)
    assert reader._schema == struct
    target = to_arrow_schema(struct)
    rows = set()
    for part in reader.partitions():
        for spec in getattr(part, "items", [part]):  # packed (r14)
            out = read_file_spec(spec, target)
            rows |= {tuple(r.values()) for r in out.to_pylist()}
    assert rows == {tuple(r) for r in t.read().collect()}


def test_batch_empty_snapshot_and_schemaless(spark, root, tmp_path):
    t = _mk(spark, root, nchunks=1)
    t.delete_rows_where("k >= 0", mode="rewrite")
    ds = _ds(spark, root)
    assert ds.count() == 0 and ds.columns == ["k", "tag", "x"]
    VersionedTable(spark, str(tmp_path / "never"))
    with pytest.raises(Exception, match="empty/schemaless"):
        _ds(spark, str(tmp_path / "never")).count()
