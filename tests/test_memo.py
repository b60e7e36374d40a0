"""The one memo layer (`memo.py`) and its users in `io`: values keyed
by their input files' identity rebuild when the files change, and a
memoized table schema plans later loads without a Spark job."""

from __future__ import annotations

import os
import shutil
import sys
import threading
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, TimestampType

from greenplum_cdc_spark import memo
from greenplum_cdc_spark.io import TABLES, load_table, materialize

SCALES = ("sf0.001", "sf0.01")


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _counted_build(calls: list, value="v"):
    def build():
        calls.append(1)
        return value

    return build


# ---- memo.py on its own ----


def test_file_rewrite_and_directory_change_rebuild(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"one")
    d = tmp_path / "dir"
    (d / "sub").mkdir(parents=True)
    (d / "sub" / "part-0").write_bytes(b"a")
    calls: list = []
    build = _counted_build(calls)
    for _ in range(3):
        memo.get_or_build("t_rewrite", [str(f), str(d)], build)
    assert len(calls) == 1
    f.write_bytes(b"three")  # rewritten in place, same inode
    memo.get_or_build("t_rewrite", [str(f), str(d)], build)
    assert len(calls) == 2
    (d / "sub" / "part-1").write_bytes(b"b")  # a file added below the root
    memo.get_or_build("t_rewrite", [str(f), str(d)], build)
    assert len(calls) == 3
    memo.get_or_build("t_rewrite", [str(f), str(d)], build)
    assert len(calls) == 3
    # a rebuilt value replaces the stale one: one entry per input set
    assert memo.stats()["t_rewrite"] == {"hits": 3, "misses": 3, "entries": 1}


def test_symlink_repointed_rebuilds(tmp_path):
    a, b, link = tmp_path / "a", tmp_path / "b", tmp_path / "link"
    a.write_bytes(b"x")
    b.write_bytes(b"x")
    link.symlink_to(a)
    calls: list = []
    memo.get_or_build("t_link", [str(link)], _counted_build(calls))
    link.unlink()
    link.symlink_to(b)
    memo.get_or_build("t_link", [str(link)], _counted_build(calls))
    assert len(calls) == 2


def test_session_and_extra_are_part_of_the_key(tmp_path):
    f = tmp_path / "t"
    f.write_bytes(b"x")
    s1 = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="local-1"))
    s2 = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="local-2"))
    calls: list = []
    build = _counted_build(calls)
    memo.get_or_build("t_session", [str(f)], build, session=s1)
    memo.get_or_build("t_session", [str(f)], build, session=s1)
    memo.get_or_build("t_session", [str(f)], build, session=s2)
    memo.get_or_build("t_session", [str(f)], build, session=s2, extra=("true",))
    assert len(calls) == 3
    assert memo.stats()["t_session"] == {"hits": 1, "misses": 3, "entries": 3}


def test_missing_input_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        memo.get_or_build("t_missing", [str(tmp_path / "nope")], lambda: 1)


def test_clear_drops_values_and_counters(tmp_path):
    f = tmp_path / "t"
    f.write_bytes(b"x")
    calls: list = []
    memo.get_or_build("t_clear", [str(f)], _counted_build(calls))
    memo.clear()
    assert "t_clear" not in memo.stats()
    memo.get_or_build("t_clear", [str(f)], _counted_build(calls))
    assert len(calls) == 2


def test_clear_releases_what_it_drops(tmp_path):
    f = tmp_path / "t"
    f.write_bytes(b"x")
    released: list = []
    memo.get_or_build("t_release", [str(f)], lambda: "held", release=released.append)
    memo.get_or_build("t_plain", [str(f)], lambda: "plain")
    memo.clear()
    assert released == ["held"]


def test_clear_removes_feed_directories(tmp_path):
    from greenplum_cdc_spark.streaming.scaffold import cached_feed

    src = tmp_path / "events.parquet"
    src.write_bytes(b"v1")
    feed = cached_feed(str(src), "test_clear_removes_feed_directories", lambda d: None)
    assert os.path.isdir(feed)
    memo.clear()
    assert not os.path.exists(feed)


def test_concurrent_callers_count_every_call(tmp_path):
    """More threads than cores hammer one slot with a short switch
    interval: no lost counter update, one entry."""
    f = tmp_path / "t"
    f.write_bytes(b"x")
    n_threads, n_calls = 16, 200
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda: [
                    memo.get_or_build("t_threads", [str(f)], lambda: 1)
                    for _ in range(n_calls)
                ]
            )
            for _ in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    s = memo.stats()["t_threads"]
    assert s["hits"] + s["misses"] == n_threads * n_calls
    assert s["entries"] == 1


# ---- io.load_table: the memoized schema ----


def _inferred_load(spark, sf_dir, name):
    """The load without the memo: Spark's inference on every call, then
    the same timestamp fix-ups — the reference `load_table` must equal."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        simple = field.dataType.simpleString()
        if name == "events" and field.name == "ts" and simple == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif simple == "timestamp_ntz":
            df = df.withColumn(field.name, df[field.name].cast("timestamp"))
    return df


@pytest.mark.parametrize("scale", SCALES)
def test_schema_equals_inference_for_every_table(spark, sf_dir, scale):
    sf = os.path.join(os.path.dirname(sf_dir), scale)
    for name in TABLES:
        got = load_table(spark, sf, name)
        assert got.schema == _inferred_load(spark, sf, name).schema, name
    assert load_table(spark, sf, "events").schema["ts"].dataType == TimestampType()


def test_rows_equal_inference_for_every_table(spark, sf_dir):
    for name in TABLES:
        got, want = load_table(spark, sf_dir, name), _inferred_load(spark, sf_dir, name)
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name


def test_second_load_runs_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    j0 = _next_job(spark)
    load_table(spark, str(tmp_path), "orders")
    j1 = _next_job(spark)
    load_table(spark, str(tmp_path), "orders")
    assert j1 - j0 == 1, "the first load infers the schema with one job"
    assert _next_job(spark) == j1, "a load of an unchanged file ran a Spark job"


@pytest.mark.parametrize(
    "rewrite, want",
    [
        (lambda t: t.append_column("r_extra", pa.array([7] * t.num_rows)), "r_extra"),
        (lambda t: t.set_column(0, "r_regionkey", t["r_regionkey"].cast(pa.float64())),
         "double"),
    ],
    ids=["adds_column", "changes_type"],
)
def test_rewrite_in_place_returns_new_schema_and_rows(spark, sf_dir, tmp_path, rewrite, want):
    path = tmp_path / "region.parquet"
    table = pq.read_table(os.path.join(sf_dir, "region.parquet"))
    pq.write_table(table, path)
    before = load_table(spark, str(tmp_path), "region")
    assert before.count() == table.num_rows
    new = rewrite(table.slice(0, 2))
    pq.write_table(new, path)  # same path and inode, new bytes
    after = load_table(spark, str(tmp_path), "region")
    assert after.schema != before.schema
    assert want in after.schema.simpleString()
    assert sorted(after.toPandas().itertuples(index=False)) == sorted(
        new.to_pandas().itertuples(index=False)
    )


def test_binary_as_string_is_a_separate_entry(spark, tmp_path):
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": pa.array([b"a", b"b"], pa.binary())}),
        tmp_path / "documents.parquet",
    )
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        raw = load_table(spark, str(tmp_path), "documents")
        misses = memo.stats()["parquet_schema"]["misses"]
        spark.conf.set(key, "true")
        text = load_table(spark, str(tmp_path), "documents")
        assert memo.stats()["parquet_schema"]["misses"] == misses + 1
    finally:
        spark.conf.set(key, old)
    assert raw.schema["text"].dataType == BinaryType()
    assert text.schema["text"].dataType == StringType()
    assert [r.text for r in text.orderBy("doc_id").collect()] == ["a", "b"]


def test_stats_count_hits_and_misses(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), tmp_path / "nation.parquet")
    before = memo.stats().get("parquet_schema", {"hits": 0, "misses": 0, "entries": 0})
    for _ in range(3):
        load_table(spark, str(tmp_path), "nation")
    after = memo.stats()["parquet_schema"]
    assert after["misses"] - before["misses"] == 1
    assert after["hits"] - before["hits"] == 2
    assert after["entries"] - before["entries"] == 1


# ---- io.materialize: the read back takes the footer schema ----


def test_materialize_reads_back_without_a_job(spark):
    df = spark.range(5).withColumn("s", F.col("id").cast("string"))
    j0 = _next_job(spark)
    out = materialize(df, "memo_test_")
    assert _next_job(spark) - j0 == 1, "only the write runs a job"
    written = os.path.dirname(out.inputFiles()[0])
    assert out.schema == spark.read.parquet(written).schema
    assert sorted(r.id for r in out.collect()) == list(range(5))


def test_synthesized_parquet_feed_reads_back_without_a_job(spark, sf_dir):
    from greenplum_cdc_spark.plans.cdc_queries import wal2json_v2_parse_events

    first = wal2json_v2_parse_events(spark, sf_dir)  # writes the feed once
    j0 = _next_job(spark)
    again = wal2json_v2_parse_events(spark, sf_dir)
    assert _next_job(spark) == j0, "a second construction ran a Spark job"
    assert again.schema == first.schema


def test_scd2_watermark_sidecar_reads_without_a_job(spark, tmp_path):
    from greenplum_cdc_spark.streaming.pipeline import (
        ReplicaStore,
        _scd2_read_wm,
        _scd2_wm_path,
        scd2_merge_fn,
    )

    store = ReplicaStore(spark, str(tmp_path / "scd2"))
    batch = spark.createDataFrame(
        [(1, 100_000_000, 1, "insert", 1.0, "view"),
         (2, 200_000_000, 2, "insert", 2.0, "view")],
        "pk long, us long, seq long, op string, value double, event_type string",
    ).select("pk", F.timestamp_micros("us").alias("ts"), "seq", "op", "value",
             "event_type")
    scd2_merge_fn(store)(batch, 0)
    j0 = _next_job(spark)
    wm = _scd2_read_wm(store, None)
    assert _next_job(spark) == j0, "reading the watermark sidecar ran a Spark job"
    sidecar = _scd2_wm_path(store, store.current_version())
    assert wm.schema == spark.read.parquet(sidecar).schema
    assert sorted((r.pk, r._wm_seq) for r in wm.collect()) == [(1, 1), (2, 2)]


# ---- every memoized value follows a rewrite of its inputs ----

# entry -> the memo its second call must rebuild after the rewrite
_REBUILT_BY = {
    "stream_cdc_pipeline": "feed",
    "wal2json_parse_events": "feed",
    "dedup_clusters": "cluster_labels",
    "knn_ivf": "ivf_train",
    "knn_cosine_bruteforce": "np_query_side",
}


def test_rewritten_inputs_rebuild_every_memo(spark, sf_copy, oracle_problems):
    """Each entry equals its oracle, the tables it reads are rewritten
    in place (every other row kept, so the query vectors change too),
    and each entry equals its oracle on the new files again: no
    memoized value, and no relation cached over the old files (dedup's
    `_swap_persist` slots stay in place), serves the pre-rewrite
    answer."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in _REBUILT_BY:
        assert oracle_problems(sf_copy, name, qs[name](spark, sf_copy)) == [], name
    before = memo.stats()
    for t in ("events", "embeddings", "documents"):
        path = os.path.join(sf_copy, f"{t}.parquet")
        table = pq.read_table(path)
        pq.write_table(table.take(list(range(0, table.num_rows, 2))), path)
    stale = {}
    for name in _REBUILT_BY:
        problems = oracle_problems(sf_copy, name, qs[name](spark, sf_copy))
        if problems:
            stale[name] = problems
    assert not stale, f"served from the pre-rewrite inputs: {stale}"
    after = memo.stats()
    for name in set(_REBUILT_BY.values()) | {"parquet_schema"}:
        assert after[name]["misses"] > before.get(name, {"misses": 0})["misses"], name
