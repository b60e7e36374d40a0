from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from greenplum_cdc_spark.catalog import SchemaRegistry, TableSpec
from greenplum_cdc_spark.functions.ddl import add_schema_name, ddl_for_event, translate_sql
from greenplum_cdc_spark.io import load_table
from greenplum_cdc_spark.operators import cdc as cdc_ops
from greenplum_cdc_spark.sources import maxwell

MAXWELL_LINES = [
    # out-of-order arrival within the batch; seq/xid breaks ts ties
    '{"database":"music","table":"album","type":"insert","ts":1700000001,"xid":1,"data":{"id":"1","title":"First","price":"9.99"}}',
    '{"database":"music","table":"album","type":"update","ts":1700000002,"xid":2,"data":{"id":"1","title":"First (remaster)","price":"11.99"},"old":{"title":"First"}}',
    '{"database":"music","table":"album","type":"insert","ts":1700000003,"xid":3,"data":{"id":"2","title":"Second","price":"7.50"}}',
    '{"database":"music","table":"album","type":"delete","ts":1700000004,"xid":4,"data":{"id":"2","title":"Second","price":"7.50"}}',
    # 13-digit ms epoch, DDL event (cdc_periodic_load.sql:5)
    '{"database":"music","table":"album","type":"table-alter","ts":1700000005000,"xid":5,"sql":"ALTER TABLE `album` ADD COLUMN price DECIMAL(15, 2)"}',
    "this is not json at all",
]


def _parsed(spark):
    raw = spark.createDataFrame([(line,) for line in MAXWELL_LINES], "line string")
    return maxwell.parse_maxwell(raw)


def test_parse_envelope_fields(spark):
    rows = {r["xid"]: r for r in _parsed(spark).collect() if r["xid"] is not None}
    assert rows[1]["op"] == "insert"
    assert rows[1]["database_name"] == "music"
    assert rows[1]["table_name"] == "album"
    assert rows[1]["data"]["title"] == "First"
    assert rows[2]["old"] == {"title": "First"}
    # second-precision vs millisecond-precision epochs land on the same wall-time scale
    assert rows[5]["ts"].year == rows[1]["ts"].year == 2023
    assert "ALTER TABLE" in rows[5]["sql"]


def test_parse_quarantines_malformed(spark):
    bad = _parsed(spark).filter(F.col("op").isNull()).collect()
    assert len(bad) == 1  # the non-JSON line, kept with its raw payload
    assert bad[0]["event_json"] == "this is not json at all"


def test_sanitize_tabs_newlines(spark):
    raw = spark.createDataFrame(
        [('{"database":"d",\t"table":"t",\n"type":"insert","ts":1700000001}',)], "line string"
    )
    row = maxwell.parse_maxwell(raw).collect()[0]
    assert row["op"] == "insert" and row["table_name"] == "t"


def test_snapshot_latest_wins_and_delete_drops(spark):
    feed = _parsed(spark).filter(F.col("op").isin(*maxwell.DML_OPS)).select(
        F.col("data")["id"].cast("int").alias("pk"),
        "ts",
        F.col("xid").alias("seq"),
        "op",
        F.col("data")["title"].alias("title"),
    )
    snap = cdc_ops.snapshot_latest(feed).collect()
    state = {r["pk"]: r for r in snap}
    assert set(state) == {1}  # id=2 deleted
    assert state[1]["title"] == "First (remaster)"


def test_apply_incremental_equals_full_recompute(spark):
    feed = _parsed(spark).filter(F.col("op").isin(*maxwell.DML_OPS)).select(
        F.col("data")["id"].cast("int").alias("pk"),
        "ts",
        F.col("xid").alias("seq"),
        "op",
        F.col("data")["title"].alias("title"),
    )
    base = feed.filter(F.col("seq") <= 2)
    incr = feed.filter(F.col("seq") > 2)
    merged = cdc_ops.apply_incremental(cdc_ops.snapshot_latest(base), incr)
    full = cdc_ops.snapshot_latest(feed)
    assert sorted(map(tuple, merged.select("pk", "title").collect())) == sorted(
        map(tuple, full.select("pk", "title").collect())
    )


def test_apply_is_idempotent(spark):
    feed = _parsed(spark).filter(F.col("op").isin(*maxwell.DML_OPS)).select(
        F.col("data")["id"].cast("int").alias("pk"),
        "ts",
        F.col("xid").alias("seq"),
        "op",
        F.col("data")["title"].alias("title"),
    )
    snap = cdc_ops.snapshot_latest(feed)
    replayed = cdc_ops.apply_incremental(snap, feed)  # re-apply the whole batch
    assert sorted(map(tuple, replayed.select("pk", "title").collect())) == sorted(
        map(tuple, snap.select("pk", "title").collect())
    )


def test_tombstones_block_out_of_order_resurrection(spark):
    """Without tombstones, a late event older than an absorbed delete
    resurrects the key; keep_tombstones=True restores the recompute
    invariant under out-of-order delivery."""
    rows = [
        (1, 10, 1, "insert", "v1"),
        (1, 30, 3, "delete", None),
    ]
    late = [(1, 20, 2, "update", "v2")]  # older than the delete, arrives later
    schema = "pk int, ts int, seq int, op string, title string"
    base = spark.createDataFrame(rows, schema)
    late_df = spark.createDataFrame(late, schema)
    full = cdc_ops.snapshot_latest(spark.createDataFrame(rows + late, schema))
    assert full.count() == 0  # ground truth: key 1 stays deleted

    # default mode diverges (documented): the late event resurrects
    naive = cdc_ops.apply_incremental(cdc_ops.snapshot_latest(base), late_df)
    assert naive.count() == 1

    # tombstone mode matches the full recompute
    snap_t = cdc_ops.snapshot_latest(base, keep_tombstones=True)
    merged = cdc_ops.apply_incremental(snap_t, late_df, keep_tombstones=True)
    assert merged.filter(F.col("op") != "delete").count() == 0


def test_translate_sql_word_boundaries():
    out = translate_sql(
        "CREATE TABLE t (created_datetime BIGINT, x DATETIME, mydouble INT)"
    )
    assert "created_datetime BIGINT" in out
    assert "x TIMESTAMP" in out
    assert "mydouble INT" in out


def test_undo_roundtrip(spark):
    """Applying undo events after the original stream restores the base state."""
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(500)
    feed = maxwell.events_as_cdc(events)
    undone = cdc_ops.undo_events(feed)
    assert undone.filter(
        ((F.col("op") == "insert") & (F.col("undo_op") != "delete"))
        | ((F.col("op") == "delete") & (F.col("undo_op") != "insert"))
    ).count() == 0


def test_translate_sql_type_map():
    src = "CREATE TABLE `t` (a DOUBLE, b DATETIME, c LONGBLOB, d LONGTEXT, e TINYINT(1)) ENGINE=InnoDB"
    out = translate_sql(src)
    assert "`" not in out and "ENGINE" not in out
    assert "TIMESTAMP" in out and "BINARY" in out and "STRING" in out and "SMALLINT" in out


def test_add_schema_name():
    assert add_schema_name("music", "CREATE TABLE album (id INT)") == (
        "CREATE TABLE music.album (id INT)"
    )
    assert add_schema_name("music", "DROP TABLE IF EXISTS album") == (
        "DROP TABLE IF EXISTS music.album"
    )


def test_ddl_for_event_dispatch():
    assert "CREATE DATABASE" in ddl_for_event("database-create", "music", None)
    assert ddl_for_event("table-create", "music", "CREATE TABLE `x` (i DATETIME)") == (
        "CREATE TABLE music.x (i TIMESTAMP)"
    )
    assert ddl_for_event("insert", "music", None) is None


def test_schema_registry():
    reg = SchemaRegistry()
    reg.register(TableSpec("music", "album", {"id": "BIGINT", "title": "TEXT"}, ("id",)))
    assert reg.get_type("music", "album", "title") == "TEXT"
    assert reg.get_pk_cols("music", "album") == ("id",)
    assert not reg.has_pk("music", "nope")
    reg.drop("music")
    assert reg.get_pk_cols("music", "album") == ()


def test_cdc_ddl_translate_query(spark, sf_dir):
    from greenplum_cdc_spark.plans import cdc_queries

    rows = cdc_queries.cdc_ddl_translate(spark, sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        s = r["translated_sql"]
        assert "ENGINE" not in s and "`" not in s
        assert "TIMESTAMP" in s and "BINARY" in s and "SMALLINT" in s
        assert s.startswith("CREATE TABLE appdb.")


def test_cdc_schema_registry_query(spark, sf_dir):
    from greenplum_cdc_spark.plans import cdc_queries

    rows = cdc_queries.cdc_schema_registry(spark, sf_dir).collect()
    pks = [(r["table_name"], r["col_name"]) for r in rows if r["is_pk"] == 1]
    assert ("album", "id") in pks and ("events", "event_id") in pks


def test_pipeline_config_from_env(monkeypatch):
    from greenplum_cdc_spark.config import PipelineConfig

    monkeypatch.setenv("CDC_BUS_KIND", "kafka")
    monkeypatch.setenv("CDC_KAFKA_TOPIC", "maxwell_prod")
    monkeypatch.setenv("CDC_FANOUT_PATHS", "/a,/b")
    cfg = PipelineConfig.from_env()
    assert cfg.bus_kind == "kafka"
    assert cfg.fanout_paths == ("/a", "/b")
    assert cfg.bus_opts() == {
        "bootstrap_servers": "localhost:9092",
        "topic": "maxwell_prod",
    }


def test_normalize_pk_changes_moves_row(spark):
    from greenplum_cdc_spark.operators.cdc import normalize_pk_changes, snapshot_latest

    feed = spark.createDataFrame(
        [
            (1, None, "2024-01-01 00:00:01", 1, "insert", 10.0),
            (2, 1, "2024-01-01 00:00:02", 2, "update", 20.0),  # pk 1 -> 2
        ],
        "pk long, old_pk long, ts string, seq long, op string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    norm = normalize_pk_changes(feed)
    snap = snapshot_latest(norm, order_cols=("ts", "seq", "subseq"))
    rows = {r["pk"]: r for r in snap.collect()}
    assert set(rows) == {2}  # old pk removed, new pk live
    assert rows[2]["value"] == 20.0


def test_normalize_pk_changes_same_pk_update_untouched(spark):
    from greenplum_cdc_spark.operators.cdc import normalize_pk_changes, snapshot_latest

    feed = spark.createDataFrame(
        [
            (1, None, "2024-01-01 00:00:01", 1, "insert", 10.0),
            (1, 1, "2024-01-01 00:00:02", 2, "update", 30.0),
        ],
        "pk long, old_pk long, ts string, seq long, op string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    snap = snapshot_latest(
        normalize_pk_changes(feed), order_cols=("ts", "seq", "subseq")
    )
    rows = snap.collect()
    assert len(rows) == 1 and rows[0]["value"] == 30.0


def _normalize_by_union(feed, pk_col="pk", old_pk_col="old_pk", op_col="op"):
    """The two-scan form `normalize_pk_changes` replaced, kept as its
    reference: the feed with subseq=1, unioned with a filter of it that
    re-keys each PK-changing update to a delete of its old key."""
    has_change = (
        (F.col(op_col) == "update")
        & F.col(old_pk_col).isNotNull()
        & (F.col(old_pk_col) != F.col(pk_col))
    )
    base = feed.withColumn("subseq", F.lit(1))
    deletes = (
        feed.filter(has_change)
        .withColumn(pk_col, F.col(old_pk_col))
        .withColumn(op_col, F.lit("delete"))
        .withColumn("subseq", F.lit(0))
    )
    return base.unionByName(deletes)


@st.composite
def _pk_change_feed(draw):
    """Inserts, deletes, same-PK updates, PK-changing updates and
    updates with a NULL old_pk, over a few keys so they collide."""
    rows = []
    for seq in range(draw(st.integers(min_value=0, max_value=20))):
        pk = draw(st.integers(min_value=0, max_value=3))
        op = draw(st.sampled_from(["insert", "update", "update", "delete"]))
        old_pk = draw(st.one_of(st.none(), st.integers(min_value=0, max_value=3)))
        rows.append((pk, old_pk, draw(st.integers(0, 5)), seq, op, float(seq)))
    return rows


@given(rows=_pk_change_feed())
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_normalize_pk_changes_matches_union_form(spark, rows):
    """One pass emits the same columns and the same multiset of rows,
    `subseq` included, as the union of the feed and its re-keyed
    PK-changing updates."""
    feed = spark.createDataFrame(
        rows, "pk long, old_pk long, ts int, seq long, op string, value double"
    )
    got = cdc_ops.normalize_pk_changes(feed)
    want = _normalize_by_union(feed)
    assert got.columns == want.columns
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


def test_typed_feed_scans_the_batch_once(spark, tmp_path):
    """The Maxwell micro-batch body reads (and JSON-parses) its input
    once: one scan leaf in the optimized plan of the typed feed."""
    from greenplum_cdc_spark.streaming.pipeline import CDCPipeline

    src = tmp_path / "batch.json"
    src.write_text("\n".join(MAXWELL_LINES) + "\n")
    raw = spark.read.text(str(src)).withColumnRenamed("value", "line")
    pipe = CDCPipeline(spark, str(tmp_path / "replica"))
    feed = pipe._typed_feed(maxwell.parse_maxwell(raw))
    assert feed._jdf.queryExecution().optimizedPlan().collectLeaves().size() == 1


def test_schema_evolution_null_backfill(spark):
    """Keys whose final event predates the DDL get NULL for the new col."""
    from greenplum_cdc_spark.plans.cdc_queries import _SPLIT_TS, cdc_schema_evolution

    rows = cdc_schema_evolution(spark, "/root/testdata/sf0.001").collect()
    assert rows, "snapshot must be non-empty"
    split = __import__("datetime").datetime.fromisoformat(_SPLIT_TS)
    for r in rows:
        if r["last_ts"] < split:
            assert r["last_event_type"] is None and r["pre_ddl"] == 1
        else:
            assert r["last_event_type"] is not None and r["pre_ddl"] == 0


def test_cdc_compaction_semantics(spark):
    """Compacted head: one live row per pre-horizon key; tail verbatim."""
    from greenplum_cdc_spark.plans.cdc_queries import _SPLIT_TS, _feed, cdc_compaction

    sf = "/root/testdata/sf0.001"
    rows = cdc_compaction(spark, sf).collect()
    import datetime

    split = datetime.datetime.fromisoformat(_SPLIT_TS)
    head = [r for r in rows if r["segment"] == "compacted"]
    tail = [r for r in rows if r["segment"] == "tail"]
    assert head and tail
    # head: unique per pk, never a delete, all at/below horizon
    assert len({r["pk"] for r in head}) == len(head)
    assert all(r["op"] != "delete" and r["ts"] <= split for r in head)
    # tail: exact event count of the raw feed past the horizon
    feed = _feed(spark, sf)
    n_tail_raw = feed.filter(F.col("ts") > F.lit(_SPLIT_TS).cast("timestamp")).count()
    assert len(tail) == n_tail_raw


def test_scd2_versions_close_and_current(spark, sf_dir):
    from greenplum_cdc_spark.plans import cdc_queries as cq

    hist = cq.cdc_scd2_history(spark, sf_dir).collect()
    by_pk: dict = {}
    for r in hist:
        by_pk.setdefault(r["pk"], []).append(r)
    some = list(by_pk.values())[0]
    # versions are contiguous: each valid_to equals the next valid_from or is open
    for a, b in zip(some, some[1:]):
        assert a["valid_to"] is not None and a["valid_to"] <= b["valid_from"]
    # at most one current version per key, and only in last position
    for versions in by_pk.values():
        currents = [v for v in versions if v["is_current"]]
        assert len(currents) <= 1
        if currents:
            assert versions[-1]["is_current"]


def test_txn_apply_holds_straddling_transactions(spark, sf_dir):
    from greenplum_cdc_spark.plans import cdc_queries as cq

    applied = cq.cdc_txn_apply(spark, sf_dir).collect()
    cut = cq._SPLIT_TS
    # no applied row may come from a transaction whose commit ts is past the cut
    feed = cq._feed(spark, sf_dir).withColumn(
        "xid", F.expr(f"seq div {cq._TXN_SIZE}")
    )
    commit = {
        r["xid"]: r["commit_ts"]
        for r in feed.groupBy("xid").agg(F.max("ts").alias("commit_ts")).collect()
    }
    for r in applied:
        assert str(commit[r["last_xid"]]) <= cut


def test_replica_checksum_order_insensitive(spark, sf_dir):
    from greenplum_cdc_spark.plans import cdc_queries as cq

    a = {r["event_type"]: r["content_digest"] for r in cq.replica_checksum(spark, sf_dir).collect()}
    # recompute with a different partitioning: digest must be identical
    import greenplum_cdc_spark.plans.cdc_queries as cq2

    snap_repart = cq2.replica_checksum(spark, sf_dir).repartition(13)
    b = {r["event_type"]: r["content_digest"] for r in snap_repart.collect()}
    assert a == b and len(a) > 0


def test_table_routing_partitions_are_disjoint(spark, sf_dir):
    from greenplum_cdc_spark.plans import cdc_queries as cq

    rows = cq.cdc_table_routing(spark, sf_dir).collect()
    tables = {r["table_name"] for r in rows}
    assert tables <= {"accounts", "activity"}
    # a pk may appear in both logical tables, but only once per table
    seen = set()
    for r in rows:
        key = (r["table_name"], r["pk"])
        assert key not in seen
        seen.add(key)
