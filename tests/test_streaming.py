"""Structured Streaming semantics: one availableNow pass over the
events table must reproduce the batch result exactly. Also pins the
one stream runner, the staged-batch fold and ``utils.scoped_conf``:
no query leaves a stream, a checkpoint directory or a conf behind."""

from __future__ import annotations

import ast
import contextlib
import os
import shutil
import tempfile
from pathlib import Path

import pytest

from tests.conftest import SF_DIR


def _rowset(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _chk_stream_tumbling_equals_batch(spark):
    from pyspark_xgboost_spark.streaming.stream import events_stream_tumbling_window
    from pyspark_xgboost_spark.streaming.windows import events_tumbling_window

    cols = ["w_start", "event_type", "n", "sum_value"]
    assert _rowset(events_stream_tumbling_window(spark, SF_DIR), cols) == _rowset(
        events_tumbling_window(spark, SF_DIR), cols
    )


def _chk_stream_session_equals_batch(spark):
    from pyspark_xgboost_spark.streaming.stream import events_stream_session_window
    from pyspark_xgboost_spark.streaming.windows import events_session_window

    cols = ["user_id", "session_start", "n_events", "session_value"]
    assert _rowset(events_stream_session_window(spark, SF_DIR), cols) == _rowset(
        events_session_window(spark, SF_DIR), cols
    )


def _chk_stateful_user_stats_totals(spark):
    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.streaming.stream import (
        events_stream_stateful_user_stats,
    )

    total = load_table(spark, SF_DIR, "events").count()
    out = events_stream_stateful_user_stats(spark, SF_DIR).collect()
    assert sum(r.n_events for r in out) == total
    assert len({r.user_id for r in out}) == len(out)  # one row per user


def _chk_stream_static_join_equals_batch(spark):
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.streaming.stream import events_stream_static_join

    got = _rowset(
        events_stream_static_join(spark, SF_DIR),
        ["event_id", "event_type", "weighted_cents"],
    )
    weights = {"view": 1, "click": 3, "purchase": 10, "signup": 5, "error": 0}
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    want = sorted(
        (r["event_id"], r["event_type"], r["cents"] * weights[r["event_type"]])
        for r in ev.collect()
    )
    assert got == want


def _chk_stream_static_join_is_stateless(spark):
    from pyspark_xgboost_spark.streaming.stream import events_stream_static_join

    df = events_stream_static_join(spark, SF_DIR)
    # stateless enrichment: every input event survives (inner join on an
    # exhaustive dimension), no dedup/window/state truncation
    from pyspark_xgboost_spark.sources import load_table

    assert df.count() == load_table(spark, SF_DIR, "events").count()


def _chk_kafka_shape_source_equals_parquet_source(spark):
    """The Kafka-payload JSON source and the parquet file source must
    produce identical windowed aggregates — the post-read contract
    (sources.normalize_event_ts) makes downstream operators
    source-agnostic, and epoch-micro timestamps + shortest-round-trip
    doubles survive the JSON hop exactly."""
    from pyspark_xgboost_spark.streaming.stream import (
        events_stream_kafka_shape,
        events_stream_tumbling_window,
    )

    cols = ["w_start", "event_type", "n", "sum_value"]
    assert _rowset(events_stream_kafka_shape(spark, SF_DIR), cols) == _rowset(
        events_stream_tumbling_window(spark, SF_DIR), cols
    )


def _chk_stream_left_outer_join_contract(spark):
    """Left-outer stream-stream join: matched rows equal the inner
    join; null-extended rows exist only for clicks whose 1h match
    horizon the final watermark passed (the held-in-state clicks near
    end-of-input are absent)."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.streaming.stream import (
        events_stream_stream_join,
        events_stream_stream_left_outer_join,
    )

    outer = events_stream_stream_left_outer_join(spark, SF_DIR).collect()
    inner = events_stream_stream_join(spark, SF_DIR).collect()
    matched = [(r["click_id"], r["purchase_id"]) for r in outer
               if r["purchase_id"] is not None]
    assert sorted(matched) == sorted(
        (r["click_id"], r["purchase_id"]) for r in inner
    )
    nulls = [r for r in outer if r["purchase_id"] is None]
    assert nulls  # outer semantics actually produced null extensions
    # every null-extended click's horizon is strictly behind the final
    # watermark = min(max click ts, max purchase ts) - 2h
    ev = load_table(spark, SF_DIR, "events")
    mx = ev.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    mxd = {r["event_type"]: r["m"] for r in mx}
    wm = min(mxd["click"], mxd["purchase"])
    import datetime

    horizon = wm - datetime.timedelta(hours=2)
    for r in nulls:
        assert r["click_ts"] + datetime.timedelta(hours=1) < horizon


def test_stream_restart_processes_only_new_files(spark, tmp_path):
    """Exactly-once across restarts: a second availableNow run against
    the same checkpoint must process ONLY files added since the first
    run — no reprocessing, no duplicate sink rows."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "ts")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    n_first, n_second = first.count(), second.count()

    src = str(tmp_path / "in")
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == n_first

    second.coalesce(1).write.mode("append").parquet(src)
    run_once()
    back = spark.read.parquet(sink)
    assert back.count() == n_first + n_second  # nothing reprocessed
    assert back.select("event_id").distinct().count() == n_first + n_second


def test_late_data_drop_really_drops(spark, tmp_path):
    """The third staged batch must be rejected BY THE WATERMARK — the
    numRowsDroppedByWatermark metric proves the eviction path ran
    (same-batch late rows never exercise it; see the operator doc)."""
    import os

    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import normalize_event_ts
    from pyspark_xgboost_spark.streaming.stream import (
        _stage_late_batches,
        _state_partitions,
    )

    root = _stage_late_batches(spark, SF_DIR)
    physical = spark.read.parquet(
        os.path.join(root, "in", "batch-000.parquet")
    ).schema
    raw = (
        spark.readStream.schema(physical)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "in"))
    )
    ev = normalize_event_ts(raw).withWatermark("ts", "2 hours")
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_state_partitions(spark)))
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName("late_drop_probe")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # dropped = exactly the old odd rows whose WINDOW was already
    # emitted+evicted (end <= max(ts) - 2h); the handful landing in
    # still-open windows are absorbed into live state instead (and
    # never emitted, so the result is unaffected either way)
    # batch 2 targets only already-evicted groups (window end <= wm,
    # group present in batch 0). Observed: the vast majority hits the
    # drop path; a handful is instead absorbed into fresh state that
    # is NEVER emitted (the watermark no longer advances) — either
    # fate is result-neutral, which the oracle gate pins. Here we
    # assert the drop path genuinely ran and nothing re-emitted.
    n_late = spark.read.parquet(
        os.path.join(root, "in", "batch-002.parquet")
    ).count()
    assert n_late > 0
    assert 0 < dropped <= n_late
    sink = spark.sql(
        "SELECT window.start AS ws, event_type FROM late_drop_probe"
    ).collect()
    keys = [(r["ws"], r["event_type"]) for r in sink]
    assert len(keys) == len(set(keys))  # no window emitted twice


def _chk_stream_merge_upsert_incremental_chain(spark):
    """The CDC merge must build one table version per staged batch
    (v000..v002 — copy-on-write chain), compute last-writer-wins state,
    and be idempotent on re-run (the _FINAL marker short-circuits)."""
    import glob
    import os

    from pyspark_xgboost_spark.streaming.stream import (
        _stage_merge_batches,
        stream_merge_upsert_incremental,
    )

    first = _rowset(
        stream_merge_upsert_incremental(spark, SF_DIR),
        ["last_batch", "n_docs", "writes", "id_checksum"],
    )
    root = _stage_merge_batches(spark, SF_DIR)
    versions = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(root, "table", "v*"))
    )
    assert versions == ["v000", "v001", "v002"]
    # doc_id 30 is written by all three batches and ends on batch 2;
    # verify via the final table itself
    fin = spark.read.parquet(os.path.join(root, "table", "v002"))
    r30 = fin.filter("doc_id = 30").collect()
    assert len(r30) == 1 and r30[0].last_batch == 2 and r30[0].times_written == 3
    # idempotent re-run: same result, no new versions
    again = _rowset(
        stream_merge_upsert_incremental(spark, SF_DIR),
        ["last_batch", "n_docs", "writes", "id_checksum"],
    )
    assert again == first
    assert sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(root, "table", "v*"))
    ) == versions


# Every stream in the package runs through one runner (stream._drain),
# folds over staged batches go through stream._fold_seq_stream, and
# conf changes go through utils.scoped_conf. Each row: (key, state
# before the block — None = unset, value inside the block).
_SCOPED_CONF_CASES = [
    ("spark.sql.shuffle.partitions", "7", "3"),
    ("spark.sql.streaming.noDataMicroBatches.enabled", None, "false"),
    ("spark.sql.sources.partitionOverwriteMode", None, "dynamic"),
    ("spark.sql.sources.partitionOverwriteMode", "static", "dynamic"),
]


class _Boom(Exception):
    pass


def test_scoped_conf_restores_prior_state(spark):
    """Set keys get their value back, unset keys are unset again (not
    pinned to a default), and both hold when the block raises."""
    from pyspark_xgboost_spark.utils import scoped_conf

    sess = spark.newSession()
    for key, before, inside in _SCOPED_CONF_CASES:
        for raises in (False, True):
            if before is None:
                sess.conf.unset(key)
            else:
                sess.conf.set(key, before)
            with pytest.raises(_Boom) if raises else contextlib.nullcontext():
                with scoped_conf(sess, {key: inside}):
                    assert sess.conf.get(key) == inside
                    if raises:
                        raise _Boom
            assert sess.conf.get(key, None) == before, (key, before, raises)


_LEAK_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.sources.partitionOverwriteMode",
)


def _leftover_ckpts(tmp):
    return sorted(str(p) for p in tmp.rglob("*_ckpt_*"))


def test_staged_builds_leave_no_stream_checkpoint_or_conf(
    spark, tmp_path, monkeypatch
):
    """A staged build on a fresh source copy (new path: the fingerprint
    key forces a build) leaves no active stream, no checkpoint
    directory and no changed session conf behind."""
    from pyspark_xgboost_spark.sources.formats import (
        _SCRATCH,
        scan_python_datasource_stream,
        sink_dynamic_partition_overwrite,
    )
    from pyspark_xgboost_spark.streaming.stream import (
        stream_reservoir_incremental,
    )

    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    sess = spark.newSession()
    confs = {k: sess.conf.get(k, None) for k in _LEAK_CONFS}
    try:
        for query in (
            stream_reservoir_incremental,
            sink_dynamic_partition_overwrite,
            scan_python_datasource_stream,
        ):
            name = query.__name__
            assert query(sess, str(sf)).collect(), name
            assert sess.streams.active == [], name
            assert _leftover_ckpts(tmp) == [], name
            assert {k: sess.conf.get(k, None) for k in _LEAK_CONFS} == confs, name
    finally:
        key = str(sf).strip("/").replace("/", "_")
        shutil.rmtree(os.path.join(_SCRATCH, key), ignore_errors=True)


def test_failed_fold_propagates_and_cleans_up(spark, tmp_path, monkeypatch):
    """A fold whose batch function raises surfaces the error and leaves
    no active stream and no checkpoint directory."""
    from pyspark_xgboost_spark.streaming.stream import _fold_seq_stream

    root = tmp_path / "root"
    spark.range(3).selectExpr("id AS doc_id", "0 AS seq").coalesce(1).write.parquet(
        str(root / "in")
    )
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    def fail(batch_df, batch_id):
        raise ValueError("fold batch failed on purpose")

    with pytest.raises(Exception, match="fold batch failed on purpose"):
        _fold_seq_stream(spark, str(root), "doc_id long, seq int", fail)
    assert spark.streams.active == []
    assert _leftover_ckpts(tmp) == []


# (lastProgress, shard index the docbin poll reads from it)
_DOCBIN_PROGRESS = [
    (None, -1),
    ({"sources": []}, -1),
    ({"sources": [{"endOffset": None}]}, -1),
    ({"sources": [{"endOffset": {"file_idx": 4}}]}, 4),
    ({"sources": [{"endOffset": '{"file_idx": 8}'}]}, 8),
    ({"sources": [{"endOffset": "{'file_idx': 8}"}]}, 8),
]


def test_docbin_poll_reads_every_offset_encoding():
    from pyspark_xgboost_spark.sources.formats import _docbin_file_idx

    for progress, want in _DOCBIN_PROGRESS:
        assert _docbin_file_idx(progress) == want, progress


# functions allowed to await a streaming query
_AWAITERS = {"_drain", "_run_docbin_stream"}


def test_stream_mechanisms_have_one_implementation():
    """Regrowth guard: outside the stream runner and the docbin poll
    helper nothing awaits a query, no checkpoint directory is minted
    with mkdtemp, and no function saves a conf with conf.get and puts
    it back in a ``finally:`` (utils.scoped_conf does that)."""
    pkg = Path(__file__).resolve().parents[1] / "pyspark_xgboost_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            own = list(_own_nodes(fn))
            for call in own:
                if not _is_method_call(call):
                    continue
                name = call.func.attr
                if name == "awaitTermination" and fn.name not in _AWAITERS:
                    offenders.append((path.name, fn.name, "awaitTermination"))
                if name == "mkdtemp" and any(
                    "ckpt" in str(getattr(kw.value, "value", ""))
                    for kw in call.keywords
                ):
                    offenders.append((path.name, fn.name, "checkpoint mkdtemp"))
            saves = any(_is_conf_call(c, ("get",)) for c in own)
            restores = any(
                _is_conf_call(c, ("set", "unset"))
                for t in own
                if isinstance(t, ast.Try)
                for st in t.finalbody
                for c in ast.walk(st)
            )
            if saves and restores and fn.name != "scoped_conf":
                offenders.append((path.name, fn.name, "conf save/restore"))
    assert not offenders, offenders


def _own_nodes(fn):
    """Nodes of ``fn``'s body, not descending into nested functions."""
    todo = list(ast.iter_child_nodes(fn))
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            todo.extend(ast.iter_child_nodes(n))


def _is_method_call(node):
    return isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)


def _is_conf_call(node, methods):
    return (
        _is_method_call(node)
        and node.func.attr in methods
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    )



def test_schema_probe_memo_keeps_one_entry_per_file(tmp_path, monkeypatch):
    """Regenerating a probed file replaces its memo entry (keyed by
    path; mtime and size are checked on the hit) instead of adding
    one, and the re-probe returns the new schema. Spark-free: the
    probe's only Spark call is stubbed."""
    import types

    from pyspark_xgboost_spark.streaming import stream

    schemas = iter(["first", "second"])
    fake = types.SimpleNamespace(
        read=types.SimpleNamespace(
            parquet=lambda path: types.SimpleNamespace(schema=next(schemas))
        )
    )
    monkeypatch.setattr(stream, "_SCHEMA_PROBE_MEMO", {})
    p = tmp_path / "t.parquet"
    p.write_bytes(b"x")
    assert stream._probe_parquet_schema(fake, str(p)) == "first"
    assert stream._probe_parquet_schema(fake, str(p)) == "first"  # memo hit
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert stream._probe_parquet_schema(fake, str(p)) == "second"
    assert list(stream._SCHEMA_PROBE_MEMO) == [os.path.abspath(p)]

# Pooled contract sweep (smoke-sweep discipline; see test_plans_r11).
_POOLED_CHECKS_STREAMING = [_chk_stream_tumbling_equals_batch, _chk_stream_session_equals_batch, _chk_stateful_user_stats_totals, _chk_stream_static_join_equals_batch, _chk_stream_static_join_is_stateless, _chk_kafka_shape_source_equals_parquet_source, _chk_stream_left_outer_join_contract, _chk_stream_merge_upsert_incremental_chain]


def test_streaming_contracts_pooled(spark):
    from tests.conftest import run_pooled

    run_pooled(spark, _POOLED_CHECKS_STREAMING)
