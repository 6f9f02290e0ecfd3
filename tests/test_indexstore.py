"""The persisted-index store module (``operators/indexstore.py``) and the
``availableNow`` runner (``streaming/incremental._run_available_now``):
every store idiom lives in one of them, appends keep one parquet schema
per table, non-local store paths fail before any Spark job, and a
timed-out ingest leaves no query running."""

import ast
import glob
import json
import time
import uuid
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_TINY

PACKAGE = Path(__file__).resolve().parents[1] / "pyspark_etl_twitter_spark"
STORE = Path("operators/indexstore.py")
RUNNER = (Path("streaming/incremental.py"), "_run_available_now")
#: sizes source tables for the broadcast hint; walks no store
WALK_OK = {Path("sources/catalog.py")}


def _idioms(tree: ast.AST):
    """(line, idiom) for every store or runner idiom in a module."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "refreshByPath":
            yield node.lineno, "refreshByPath"
        elif isinstance(node, ast.Name) and node.id == "ThreadPoolExecutor":
            yield node.lineno, "ThreadPoolExecutor"
        elif isinstance(node, ast.ImportFrom) and any(
            a.name == "ThreadPoolExecutor" for a in node.names
        ):
            yield node.lineno, "ThreadPoolExecutor"
        elif (
            isinstance(node, ast.Attribute)
            and node.attr == "walk"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            yield node.lineno, "os.walk"
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.endswith("/meta")
        ):
            yield node.lineno, "/meta"
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "awaitTermination":
                yield node.lineno, "awaitTermination"
            elif node.func.attr == "trigger" and any(
                k.arg == "availableNow" for k in node.keywords
            ):
                yield node.lineno, "trigger(availableNow)"


def _function_lines(tree: ast.AST, name: str) -> range:
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return range(node.lineno, node.end_lineno + 1)
    return range(0)


def test_store_and_runner_idioms_live_in_one_place():
    """Store meta, appends, refreshes, rewrites and write waves go through
    the store module; streaming runs go through the one runner."""
    stray = []
    for file in sorted(PACKAGE.rglob("*.py")):
        rel = file.relative_to(PACKAGE)
        if rel == STORE:
            continue
        tree = ast.parse(file.read_text(), filename=str(file))
        runner = _function_lines(tree, RUNNER[1]) if rel == RUNNER[0] else range(0)
        for line, idiom in _idioms(tree):
            if idiom in ("awaitTermination", "trigger(availableNow)") and line in runner:
                continue
            if idiom == "os.walk" and rel in WALK_OK:
                continue
            stray.append(f"{rel}:{line} {idiom}")
    assert stray == []


@pytest.mark.parametrize("root", ["s3a://bucket/store", "hdfs://localhost/store"])
def test_non_local_store_rejected_before_any_job(spark, root):
    """The MinHash marker and the compaction file counts use os/pathlib,
    which cannot see a URI scheme: fail before the first Spark job
    instead of writing every table and then crashing (or counting 0)."""
    from pyspark_etl_twitter_spark.functions.lits import local_table
    from pyspark_etl_twitter_spark.operators.dedup import build_minhash_index
    from pyspark_etl_twitter_spark.operators.similarity import compact_ivf_index

    docs = local_table(
        spark, "doc_id long, text string", {"doc_id": [1, 2], "text": ["a b", "b c"]}
    )
    sc = spark.sparkContext
    group = f"non-local-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "non-local store paths")
    try:
        with pytest.raises(ValueError, match="local-filesystem-only"):
            build_minhash_index(docs, root)
        with pytest.raises(ValueError, match="local-filesystem-only"):
            compact_ivf_index(spark, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _family(name: str):
    from pyspark_etl_twitter_spark.operators import similarity as S

    return {
        "ivf": (S.build_ivf_index, S.ivf_index_append, "assignments"),
        "lsh": (
            lambda emb, path: S.build_lsh_index(emb, path, n_planes=4),
            S.lsh_index_append,
            "corpus",
        ),
        "ivfpq": (S.build_ivfpq_index, S.ivfpq_index_append, "codes"),
        "pq": (S.build_pq_code_table, S.pq_code_table_append, "codes"),
    }[name]


@pytest.mark.parametrize("family", ["ivf", "lsh", "ivfpq", "pq"])
def test_append_keeps_one_parquet_schema(spark, tmp_path, family):
    """An ``int``-id, ``array<double>`` batch is cast to the table's
    schema: every parquet file of the appended table has the same one."""
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    build, append, table = _family(family)
    emb = load_table(spark, SF_TINY, "embeddings")
    path = str(tmp_path / family)
    build(emb, path)
    batch = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1_000_000).cast("int").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    append(spark, path, batch)
    files = glob.glob(f"{path}/{table}/**/*.parquet", recursive=True)
    schemas = {
        tuple((f.name, str(f.type)) for f in pq.read_schema(p)) for p in files
    }
    assert len(files) > 1 and len(schemas) == 1, schemas
    assert spark.read.parquet(f"{path}/{table}").count() > emb.count()


def test_timed_out_ingest_stops_its_query(spark, tmp_path, monkeypatch):
    """A run that outlives ``timeout_s`` raises ``TimeoutError`` with its
    query stopped, so nothing still appends to the index after the
    caller has moved on."""
    from pyspark_etl_twitter_spark.operators import similarity
    from pyspark_etl_twitter_spark.streaming.incremental import streaming_lsh_ingest

    src = tmp_path / "incoming"
    src.mkdir()
    (src / "a.json").write_text(
        json.dumps({"vec_id": 1, "embedding": [1.0, 0.0], "label": 0})
    )
    monkeypatch.setattr(
        similarity, "lsh_index_append", lambda *_args, **_kw: time.sleep(4)
    )
    with pytest.raises(TimeoutError):
        streaming_lsh_ingest(
            spark, str(src), str(tmp_path / "idx"), str(tmp_path / "ckpt"), timeout_s=1
        )
    assert spark.streams.active == []
