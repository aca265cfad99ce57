"""Staged-copy lifecycle for the multi-format scan operators
(sources/formats.py): fingerprint keying plus garbage collection of
stale fingerprints, so a data swap invalidates derived scratch dirs
without letting the scratch tree grow without bound; and the one
staging protocol (``scratch_path`` + ``ensure_built``) every staged
artifact in the package goes through."""

from __future__ import annotations

import ast
import os
import shutil
import threading
import time
from pathlib import Path

import pytest

from tests.conftest import SF_DIR


def test_stage_gc_keeps_one_copy_per_table(spark, tmp_path):
    from pyspark_xgboost_spark.sources.formats import _SCRATCH, _stage

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    shutil.copy(os.path.join(SF_DIR, "region.parquet"), data_dir / "region.parquet")

    first = _stage(spark, str(data_dir), "region", "csv")
    assert os.path.exists(os.path.join(first, "_SUCCESS"))

    # swap the data in place (same bytes, new mtime → new fingerprint)
    st = os.stat(data_dir / "region.parquet")
    os.utime(data_dir / "region.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    second = _stage(spark, str(data_dir), "region", "csv")

    assert second != first  # new fingerprint → new staged dir
    assert not os.path.exists(first)  # stale sibling collected
    parent = os.path.join(_SCRATCH, str(data_dir).strip("/").replace("/", "_"))
    siblings = [
        n
        for n in os.listdir(parent)
        if n.startswith("region_csv_") and not n.endswith(".lock")
        # .lock files are build_lock's zero-byte flock anchors: left in
        # place on purpose (removing one a process still holds would
        # split later lockers onto a fresh inode, breaking exclusion)
    ]
    assert siblings == [os.path.basename(second)]


def test_stage_gc_leaves_other_tables_alone(spark, tmp_path):
    from pyspark_xgboost_spark.sources.formats import _stage

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    for t in ("region", "nation"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), data_dir / f"{t}.parquet")

    region = _stage(spark, str(data_dir), "region", "csv")
    nation = _stage(spark, str(data_dir), "nation", "csv")
    # re-staging region (unchanged) must not disturb either copy
    assert _stage(spark, str(data_dir), "region", "csv") == region
    assert os.path.exists(os.path.join(nation, "_SUCCESS"))



class _Boom(Exception):
    pass


def _raise(_out):
    raise _Boom


# (build, marker text ensure_built returns, or the exception it raises)
_ENSURE_BUILT_CASES = {
    "note": (lambda out: "v002", "v002"),
    "no_note": (lambda out: None, ""),
    "raises": (_raise, _Boom),
}


@pytest.mark.parametrize("case", sorted(_ENSURE_BUILT_CASES))
def test_ensure_built_protocol(tmp_path, case):
    """A build that returns leaves ``out`` with its files and a marker
    holding the note, and a second call reuses it without building; a
    build that raises leaves no ``out``, no marker and no temp marker,
    and the next call builds afresh."""
    from pyspark_xgboost_spark.sources.formats import ensure_built

    build, want = _ENSURE_BUILT_CASES[case]
    out = str(tmp_path / "artifact")
    os.makedirs(out)
    open(os.path.join(out, "stale.txt"), "w").close()  # a half-built leftover
    if want is _Boom:
        with pytest.raises(_Boom):
            ensure_built(out, build)
        assert not os.path.exists(out)
        assert sorted(os.listdir(tmp_path)) == ["artifact.lock"]
        assert ensure_built(out, lambda d: "rebuilt") == "rebuilt"
        return
    assert ensure_built(out, build) == want
    assert "stale.txt" not in os.listdir(out)
    assert ensure_built(out, _raise) == want  # built once: no second build


def test_ensure_built_builds_once_across_threads(tmp_path):
    """Eight threads ensuring one artifact run its build once, and
    every thread gets the same marker text."""
    from pyspark_xgboost_spark.sources.formats import ensure_built

    out = str(tmp_path / "artifact")
    calls = []

    def build(d):
        calls.append(d)
        time.sleep(0.2)  # hold the lock while the other threads arrive
        return "built"

    got = []
    threads = [
        threading.Thread(target=lambda: got.append(ensure_built(out, build)))
        for _ in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls == [out]
    assert got == ["built"] * 8


def _scratch_dir(data_dir):
    from pyspark_xgboost_spark.sources.formats import _SCRATCH

    return os.path.join(_SCRATCH, str(data_dir).strip("/").replace("/", "_"))


def test_failed_staging_leaves_no_partial_tree(spark, tmp_path):
    """A staged batch fixture whose second batch fails to build leaves
    neither its first batch file nor a marker, and the next call
    stages all batches."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.streaming.stream import _stage_seq_batches

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    shutil.copy(os.path.join(SF_DIR, "documents.parquet"), data_dir)

    def failing(docs, seq):
        if seq == 1:
            raise _Boom
        return docs.select("doc_id", F.lit(seq).alias("seq"))

    try:
        with pytest.raises(_Boom):
            _stage_seq_batches(spark, str(data_dir), "failfix_", failing)
        assert [
            n for n in os.listdir(_scratch_dir(data_dir)) if not n.endswith(".lock")
        ] == []
        root = _stage_seq_batches(
            spark,
            str(data_dir),
            "failfix_",
            lambda docs, seq: docs.select("doc_id", F.lit(seq).alias("seq")),
        )
        assert sorted(os.listdir(os.path.join(root, "in"))) == [
            "batch-000.parquet", "batch-001.parquet", "batch-002.parquet"
        ]
    finally:
        shutil.rmtree(_scratch_dir(data_dir), ignore_errors=True)


def test_skew_fact_restage_keeps_one_copy(spark, tmp_path):
    """The skew-join fact staging is fingerprint-keyed and collected
    like every staged artifact: after a data swap, one copy remains."""
    from pyspark_xgboost_spark.operators.temporal import (
        _SKEW_FACT_FILES,
        _skew_fact_staged,
    )

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    shutil.copy(os.path.join(SF_DIR, "lineitem.parquet"), data_dir)
    prefix = f"lineitem_skewrg{_SKEW_FACT_FILES}_"
    try:
        n = _skew_fact_staged(spark, str(data_dir)).count()
        st = os.stat(data_dir / "lineitem.parquet")
        os.utime(data_dir / "lineitem.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 1))
        assert _skew_fact_staged(spark, str(data_dir)).count() == n
        copies = [
            name
            for name in os.listdir(_scratch_dir(data_dir))
            if name.startswith(prefix) and not name.endswith(".lock")
        ]
        assert len(copies) == 1
        assert os.path.exists(
            os.path.join(_scratch_dir(data_dir), copies[0], "_STAGED")
        )
    finally:
        shutil.rmtree(_scratch_dir(data_dir), ignore_errors=True)


# The staging protocol's owners, and the deliberate exceptions with
# their reasons. Nothing else in the package takes a build lock,
# collects stale scratch siblings, derives the scratch key from sf_dir
# or names a /tmp path.
_STAGING_OWNERS = {"_SCRATCH", "scratch_path", "ensure_built"}
_STAGING_EXCEPTIONS = {
    # its fixed path is named literally in its oracle SQL, and it
    # checks freshness by a fingerprint stored in its marker
    "_stage_prune_file",
    "_prune_staged_path",
    # collects stale warehouse tables and catalog entries, not scratch
    "sink_bucketed_join",
}


def _staging_offence(node):
    if isinstance(node, ast.Call):
        name = getattr(node.func, "id", getattr(node.func, "attr", None))
        if name in ("build_lock", "gc_stale_siblings"):
            return name
        f = node.func
        if (
            isinstance(f, ast.Attribute)
            and f.attr == "replace"
            and isinstance(f.value, ast.Call)
            and getattr(f.value.func, "attr", None) == "strip"
        ):
            return "scratch key derivation"
    if (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("/tmp")
    ):
        return "/tmp literal"
    return None


def _top_level_name(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
        return stmt.name
    if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1:
        return getattr(stmt.targets[0], "id", None)
    return None


def test_staging_has_one_implementation():
    """Regrowth guard for the staging protocol (see the two sets
    above)."""
    pkg = Path(__file__).resolve().parents[1] / "pyspark_xgboost_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            name = _top_level_name(stmt)
            if name in _STAGING_OWNERS | _STAGING_EXCEPTIONS:
                continue
            for node in ast.walk(stmt):
                what = _staging_offence(node)
                if what:
                    offenders.append((path.name, name, node.lineno, what))
    assert not offenders, offenders

def _chk_scan_text_profile_matches_batch(spark):
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.sources.formats import scan_text

    row = scan_text(spark, SF_DIR).collect()[0]
    docs = load_table(spark, SF_DIR, "documents")
    toks = F.expr(r"filter(split(lower(text), '[ \\t\\n\\f\\r]+'), x -> x != '')")
    want = docs.agg(
        F.count("*").alias("n"),
        F.sum(F.length("text")).alias("chars"),
        F.sum(F.size(toks)).alias("tokens"),
    ).collect()[0]
    assert row["n_lines"] == want["n"]
    assert row["total_chars"] == want["chars"]
    assert row["total_tokens"] == want["tokens"]


def _chk_corrupt_records_are_audited_not_dropped(spark):
    """PERMISSIVE-mode ingest: corrupt lines are counted (auditable),
    good rows aggregate cleanly, nothing is silently lost."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.sources.formats import scan_json_corrupt_records

    row = scan_json_corrupt_records(spark, SF_DIR).collect()[0]
    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    n_corrupt = docs.filter(F.col("doc_id") % 13 == 0).count()
    assert row["n_corrupt"] == n_corrupt
    assert row["n_good"] == n - n_corrupt
    assert row["n_good"] + row["n_corrupt"] == n  # nothing lost


def _chk_gzip_stage_writes_gz_files_and_reads_back(spark):
    import os

    from pyspark_xgboost_spark.sources.formats import (
        _stage_gzip_csv,
        scan_csv_gzip,
    )
    from tests.conftest import SF_DIR

    path = _stage_gzip_csv(spark, SF_DIR, "orders")
    gz = [f for f in os.listdir(path) if f.endswith(".csv.gz")]
    assert gz  # the staged landing zone is genuinely gzip
    n = scan_csv_gzip(spark, SF_DIR).agg({"n_orders": "sum"}).collect()[0][0]
    from pyspark_xgboost_spark.sources import load_table

    assert n == load_table(spark, SF_DIR, "orders").count()


def _chk_python_datasource_roundtrip_and_parallelism(spark):
    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.sources.formats import (
        _DOCBIN_SHARDS,
        _stage_docbin,
        scan_python_datasource,
    )
    from tests.conftest import SF_DIR

    import os

    path = _stage_docbin(SF_DIR)
    shards = [f for f in os.listdir(path) if f.endswith(".docbin")]
    assert len(shards) == _DOCBIN_SHARDS
    # per-row binary round trip, not just the aggregate
    try:
        spark.dataSource.register(
            __import__(
                "pyspark_xgboost_spark.sources.formats", fromlist=["DocBinDataSource"]
            ).DocBinDataSource
        )
    except Exception:
        pass
    back = (
        spark.read.format("docbin").option("path", path).load().collect()
    )
    src = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    assert {tuple(r) for r in back} == {tuple(r) for r in src}
    # one InputPartition per shard file = real scan parallelism
    rdd_parts = (
        spark.read.format("docbin").option("path", path).load().rdd.getNumPartitions()
    )
    assert rdd_parts == _DOCBIN_SHARDS
    # and the registered query agrees with the source table
    n = sum(r["n_docs"] for r in scan_python_datasource(spark, SF_DIR).collect())
    assert n == len(src)


def _chk_compaction_shrinks_file_count_content_neutral(spark):
    import os

    from pyspark_xgboost_spark.sources.formats import (
        _COMPACT_TARGET,
        _SCRATCH,
        sink_compact_small_files,
        src_fingerprint,
    )
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    rows = sink_compact_small_files(spark, SF_DIR).collect()
    key = SF_DIR.strip("/").replace("/", "_")
    fp = src_fingerprint(SF_DIR, "lineitem")

    def n_parquet(leaf):
        d = os.path.join(_SCRATCH, key, leaf)
        return sum(f.endswith(".parquet") for f in os.listdir(d))

    assert n_parquet(f"li_frag_{fp}") == 64
    assert n_parquet(f"li_compact_{fp}") == _COMPACT_TARGET
    assert sum(r["n"] for r in rows) == load_table(spark, SF_DIR, "lineitem").count()


def _chk_schema_evolution_nulls_only_in_legacy_files(spark):
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources.formats import (
        scan_schema_evolution_merge,
        _SCRATCH,
        src_fingerprint,
    )
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    import os

    rows = scan_schema_evolution_merge(spark, SF_DIR).collect()
    orders = load_table(spark, SF_DIR, "orders")
    assert sum(r["n"] for r in rows) == orders.count()
    key = SF_DIR.strip("/").replace("/", "_")
    root = os.path.join(
        _SCRATCH, key, f"orders_evo_{src_fingerprint(SF_DIR, 'orders')}"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v1"), os.path.join(root, "v2")
    )
    assert set(merged.columns) == {
        "o_orderkey", "o_orderstatus", "o_orderdate",
        "o_totalprice", "o_orderpriority",
    }
    cutoff = F.lit("1998-01-01").cast("timestamp")
    # evolution boundary: the new column is NULL exactly on legacy rows
    assert merged.filter(
        (F.col("o_orderdate") < cutoff) & F.col("o_orderpriority").isNotNull()
    ).count() == 0
    assert merged.filter(
        (F.col("o_orderdate") >= cutoff) & F.col("o_orderpriority").isNull()
    ).count() == 0


def _chk_metadata_hidden_column_counts_staged_files(spark):
    """Spark's _metadata hidden column: per-file provenance without a
    path column in the data — counted over the 64-file fragmented
    staging, where it genuinely discriminates."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources.formats import (
        _SCRATCH,
        sink_compact_small_files,
        src_fingerprint,
    )
    from tests.conftest import SF_DIR

    import os

    sink_compact_small_files(spark, SF_DIR)  # ensures both stagings exist
    key = SF_DIR.strip("/").replace("/", "_")
    frag = os.path.join(
        _SCRATCH, key, f"li_frag_{src_fingerprint(SF_DIR, 'lineitem')}"
    )
    per_file = (
        spark.read.parquet(frag)
        .groupBy(F.col("_metadata.file_path").alias("f"))
        .count()
        .collect()
    )
    assert len(per_file) == 64
    assert sum(r["count"] for r in per_file) == spark.read.parquet(frag).count()


def _chk_zorder_buckets_have_2d_locality(spark):
    """The Morton-key bucketing must (a) interleave bits exactly like
    the Python reference and (b) give each bucket a day-range at most
    ~a quarter of the global span (the top three z bits contain two
    y-bits), which is precisely the footer-stats pruning win."""
    from pyspark_xgboost_spark.sources.formats import (
        _z_interleave_sql,
        sink_zorder_cluster,
    )

    # (a) expression == python bit interleave on probe values
    probes = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(probes, "x long, y long").selectExpr(
        "x", "y", f"CAST({_z_interleave_sql('x', 'y', div='div')} AS BIGINT) AS z"
    )

    def ref(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for r in df.collect():
        assert r.z == ref(r.x, r.y)

    # (b) locality of the written buckets
    rows = sink_zorder_cluster(spark, SF_DIR).collect()
    assert len(rows) >= 4
    gmin = min(r.min_day for r in rows)
    gmax = max(r.max_day for r in rows)
    span = gmax - gmin
    for r in rows:
        assert (r.max_day - r.min_day) <= span // 4 + 2


def _chk_python_datasource_stream_exactly_once_offsets(spark):
    """Two+ staged micro-batches over the docbin stream reader must
    partition the shard range with no overlap and no gap: every record
    arrives exactly once and committed offsets advance monotonically."""
    import ast
    import tempfile

    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.sources.formats import (
        _DOCBIN_SHARDS,
        DocBinDataSource,
        _stage_docbin,
    )
    from tests.conftest import SF_DIR

    path = _stage_docbin(SF_DIR)
    try:
        spark.dataSource.register(DocBinDataSource)
    except Exception:
        pass
    docs = (
        spark.readStream.format("docbin")
        .option("path", path)
        .option("batchfiles", "3")  # 8 shards -> batches of 3,3,2
        .load()
    )
    ckpt = tempfile.mkdtemp(prefix="docbin_ckpt_test_")
    q = (
        docs.writeStream.outputMode("append")
        .format("memory")
        .queryName("docbin_stream_test")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    def _idx(o):
        if o is None:
            return None
        d = ast.literal_eval(o) if isinstance(o, str) else o
        return None if d is None else int(d["file_idx"])

    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p.get("sources") and _idx(p["sources"][0].get("endOffset")) == _DOCBIN_SHARDS:
            break
        time.sleep(0.1)
    progresses = [
        (
            _idx(p["sources"][0].get("startOffset")),
            _idx(p["sources"][0].get("endOffset")),
            p["sources"][0]["numInputRows"],
        )
        for p in q.recentProgress
        if p.get("sources")
    ]
    q.stop()
    q.awaitTermination()

    # the initial batch reports startOffset=None, so pin the contract on
    # the committed endOffset sequence: strictly increasing (no shard
    # re-read), >=2 data-bearing batches, final offset = all shards
    ends = [e for _s, e, n in progresses if n > 0 and e is not None]
    assert len(ends) >= 2
    assert ends == sorted(set(ends))
    assert ends[-1] == _DOCBIN_SHARDS

    got = spark.table("docbin_stream_test").collect()
    src = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "source", "n_chars")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, src))  # exactly once


def test_python_datasource_writer_two_phase_commit(spark, tmp_path):
    """The docbin writer must leave ONLY committed .docbin shards (no
    .tmp residue), a _DONE marker with the exact row count, and a
    byte-identical read-back through the batch reader."""
    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.sources.formats import DocBinDataSource
    from tests.conftest import SF_DIR

    try:
        spark.dataSource.register(DocBinDataSource)
    except Exception:
        pass
    out = str(tmp_path / "docbin_out")
    src = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    src.repartition(5).write.format("docbin").mode("overwrite").option(
        "path", out
    ).save()

    files = os.listdir(out)
    assert not [f for f in files if f.endswith(".tmp")]
    shards = [f for f in files if f.endswith(".docbin")]
    assert len(shards) == 5  # one committed shard per writer task
    with open(os.path.join(out, "_DONE")) as fh:
        assert int(fh.read()) == src.count()

    back = spark.read.format("docbin").option("path", out).load().collect()
    assert sorted(map(tuple, back)) == sorted(map(tuple, src.collect()))


# Pooled contract sweep (smoke-sweep discipline; see test_plans_r11).
_POOLED_CHECKS_SOURCES = [_chk_scan_text_profile_matches_batch, _chk_corrupt_records_are_audited_not_dropped, _chk_gzip_stage_writes_gz_files_and_reads_back, _chk_python_datasource_roundtrip_and_parallelism, _chk_compaction_shrinks_file_count_content_neutral, _chk_schema_evolution_nulls_only_in_legacy_files, _chk_metadata_hidden_column_counts_staged_files, _chk_zorder_buckets_have_2d_locality, _chk_python_datasource_stream_exactly_once_offsets]


def test_sources_contracts_pooled(spark):
    from tests.conftest import run_pooled

    run_pooled(spark, _POOLED_CHECKS_SOURCES)
