"""The persisted-index store module (``operators/indexstore.py``) and the
``availableNow`` runner (``streaming/incremental._run_available_now``):
every store idiom lives in one of them, appends keep one parquet schema
per table, non-local store paths fail before any Spark job, a crash at
any write boundary leaves the old version or the new one, every store's
manifest describes it, and a timed-out ingest leaves no query running."""

import ast
import glob
import itertools
import json
import re
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass
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
#: a path naming a store table: only ``indexstore.read`` scans those
STORE_TABLE = re.compile(
    r"/(assignments|centroids|queries|corpus|codes|texts|bands|sigs|terms|meta)(/|$)"
)


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
            and node.attr in ("walk", "replace")
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            yield node.lineno, f"os.{node.attr}"
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.endswith("/meta"):
                yield node.lineno, "/meta"
            if "_CLEAN" in node.value:
                yield node.lineno, "_CLEAN"
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if (
                node.func.attr == "parquet"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "read"
                and any(
                    isinstance(c, ast.Constant)
                    and isinstance(c.value, str)
                    and STORE_TABLE.search(c.value)
                    for arg in node.args
                    for c in ast.walk(arg)
                )
            ):
                yield node.lineno, "store table read.parquet"
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
    """Store meta, appends, refreshes, rewrites, write waves, pointer
    swaps and store-table scans go through the store module; streaming
    runs go through the one runner."""
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
def test_non_local_store_rejected_before_any_job(spark, tmp_path, root):
    """Store manifests, listings and pointers use os, which cannot see a
    URI scheme: fail before the first Spark job instead of writing every
    table and then crashing (or reading an absent manifest or pointer as
    an empty store and re-merging every batch from nothing)."""
    from pyspark_etl_twitter_spark.functions.lits import local_table
    from pyspark_etl_twitter_spark.operators.dedup import build_minhash_index
    from pyspark_etl_twitter_spark.operators.similarity import compact_ivf_index
    from pyspark_etl_twitter_spark.streaming.incremental import (
        ks_monitor_process_batch,
        streaming_ks_monitor,
    )

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
        with pytest.raises(ValueError, match="local-filesystem-only"):
            streaming_ks_monitor(
                spark,
                str(tmp_path),
                root,
                str(tmp_path / "ckpt"),
                schema=docs.schema,
                value_col="doc_id",
                reference=docs,
            )
        with pytest.raises(ValueError, match="local-filesystem-only"):
            ks_monitor_process_batch(docs, 0, state_dir=root, value_col="doc_id")
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


@dataclass(frozen=True)
class Family:
    """One index family's store operations over small inputs."""

    build: Callable  # (data, path)
    append: Callable  # (path, batch)
    maintain: dict[str, Callable]  # name -> (path)
    data: tuple  # (first build input, second build input, append batch)
    params: set[str]  # the build parameters its manifest carries


def _families(spark) -> dict[str, Family]:
    from pyspark_etl_twitter_spark.functions.lits import local_table
    from pyspark_etl_twitter_spark.operators import dedup as D
    from pyspark_etl_twitter_spark.operators import similarity as S
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, SF_TINY, "embeddings")
    vid = F.col("vec_id")
    vecs = (emb.filter(vid < 120), emb.filter(vid < 80), emb.filter(vid.between(120, 159)))

    def docs(rows: dict[int, str]):
        return local_table(
            spark,
            "doc_id long, text string",
            {"doc_id": list(rows), "text": list(rows.values())},
        )

    a, b, c, d = (" ".join(f"{w}{i}" for i in range(1, 11)) for w in "abcd")
    texts = (
        # 5 near-dups 0, so a rebuild drops it
        docs({0: a, 5: a.replace("a10", "z1"), 10: b, 20: c}),
        docs({0: a, 30: d}),
        # 100 near-dups 0 (dropped), 110 is new
        docs({100: a.replace("a10", "z3"), 110: d.replace("d", "e")}),
    )
    mh = dict(num_hashes=16, bands=8, shingle_n=1, threshold=0.5, star_bucket_threshold=64)
    return {
        "minhash": Family(
            lambda data, path: D.build_minhash_index(data, path, **mh),
            lambda path, batch: D.minhash_index_append(spark, path, batch),
            {
                "compact": lambda path: D.compact_minhash_index(spark, path),
                "rebuild": lambda path: D.rebuild_minhash_index(spark, path),
            },
            texts,
            {*mh, "est_slack"},
        ),
        "ivf": Family(
            lambda data, path: S.build_ivf_index(data, path, n_lists=4),
            lambda path, batch: S.ivf_index_append(spark, path, batch),
            {
                "compact": lambda path: S.compact_ivf_index(spark, path),
                "rebalance": lambda path: S.rebalance_ivf_index(
                    spark, path, train_iters=1, portable=True
                ),
            },
            vecs,
            {"n_lists", "max_queries"},
        ),
        "lsh": Family(
            lambda data, path: S.build_lsh_index(
                data, path, n_planes=4, layout="partitioned"
            ),
            lambda path, batch: S.lsh_index_append(spark, path, batch),
            {"compact": lambda path: S.compact_lsh_index(spark, path)},
            vecs,
            {"layout", "n_planes", "n_tables", "seed", "quantize"},
        ),
        "ivfpq": Family(
            lambda data, path: S.build_ivfpq_index(data, path, n_lists=4),
            lambda path, batch: S.ivfpq_index_append(spark, path, batch),
            {},
            vecs,
            {"n_lists", "m", "ksub", "dsub", "cents", "books"},
        ),
        "pq": Family(
            S.build_pq_code_table,
            lambda path, batch: S.pq_code_table_append(spark, path, batch),
            {},
            vecs,
            {"m", "ksub", "dsub", "books"},
        ),
    }


def _observe(spark, path: str) -> dict | None:
    """The store's live version: every table's rows, sorted, with the
    version and build parameters (None: no store)."""
    from pyspark_etl_twitter_spark.operators import indexstore

    found = indexstore.manifest(path)
    if found is None:
        return None
    return {
        "version": found["version"],
        "params": found["params"],
        **{
            name: sorted(map(str, indexstore.read(spark, path, name).collect()))
            for name in found["tables"]
        },
    }


def _on_disk(path: str, table: str) -> list[str]:
    return sorted(str(p.relative_to(path)) for p in Path(path, table).rglob("*.parquet"))


class Crash(RuntimeError):
    """An injected crash."""


def _crash_at(monkeypatch, name: str, k: int) -> None:
    """Crash the k-th call of ``indexstore.<name>``: a table write crashes
    once its files have landed, the pointer swap and the vacuum before
    they do anything."""
    from pyspark_etl_twitter_spark.operators import indexstore

    real, calls = getattr(indexstore, name), itertools.count(1)

    def crash(*args, **kwargs):
        if next(calls) != k:
            return real(*args, **kwargs)
        if name == "write":
            real(*args, **kwargs)
        raise Crash(f"{name} #{k}")

    monkeypatch.setattr(indexstore, name, crash)


SCENARIOS = [
    (family, op)
    for family, ops in {
        "minhash": ("build", "append", "compact", "rebuild"),
        "ivf": ("build", "append", "compact", "rebalance"),
        "lsh": ("build", "append", "compact"),
        "ivfpq": ("build", "append"),
        "pq": ("build", "append"),
    }.items()
    for op in ops
]


@pytest.mark.parametrize(("family", "op"), SCENARIOS)
def test_crash_leaves_old_or_new_version(spark, tmp_path, monkeypatch, family, op):
    """A crash at any write boundary of a store operation — after any
    table's files land, at the manifest swap, or before the vacuum —
    leaves a store that reads exactly as the version before the operation
    (every crash before the swap) or the one after it (a crash in the
    vacuum). Re-running the crashed operation gives the new version, and
    its vacuum leaves only the live files on disk."""
    from pyspark_etl_twitter_spark.operators import indexstore

    fam = _families(spark)[family]
    first, second, batch = fam.data
    run = {
        "build": lambda path: fam.build(second, path),
        "append": lambda path: fam.append(path, batch),
        **fam.maintain,
    }[op]
    base = str(tmp_path / "base")
    fam.build(first, base)
    old = _observe(spark, base)

    clean, writes = str(tmp_path / "clean"), itertools.count()
    shutil.copytree(base, clean)
    real = indexstore.write

    def counted(*args, **kwargs):
        next(writes)
        return real(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(indexstore, "write", counted)
        run(clean)
    new = _observe(spark, clean)
    n_writes = next(writes)
    assert n_writes > 0 and new != old

    points = [("write", k) for k in range(1, n_writes + 1)]
    for name, k in [*points, ("swap_pointer", 1), ("_vacuum", 1)]:
        torn = str(tmp_path / f"{name}{k}")
        shutil.copytree(base, torn)
        with monkeypatch.context() as m:
            _crash_at(m, name, k)
            with pytest.raises(Crash):
                run(torn)
        assert _observe(spark, torn) == (new if name == "_vacuum" else old), (name, k)

    recovered = str(tmp_path / "swap_pointer1")
    run(recovered)
    assert _observe(spark, recovered) == new
    for table, entry in indexstore.manifest(recovered)["tables"].items():
        assert sorted(entry["files"]) == _on_disk(recovered, table), table


def test_texts_never_commits_without_bands(spark, tmp_path, monkeypatch):
    """The torn state where texts/ holds a batch whose bands/ never landed
    is unreachable: a MinHash append whose texts/ write lands and then
    crashes leaves all four tables at the old version, whatever the
    other three writes of its wave did."""
    from pyspark_etl_twitter_spark.operators import indexstore

    fam = _families(spark)["minhash"]
    first, _, batch = fam.data
    path = str(tmp_path / "idx")
    fam.build(first, path)

    def ids() -> dict[str, set[int]]:
        return {
            t.name: {r.doc_id for r in indexstore.read(spark, path, t.name).collect()}
            for t in indexstore.MINHASH_TABLES
        }

    before = ids()
    real = indexstore.write

    def crash_after_texts(df, root, table, mode="overwrite"):
        written = real(df, root, table, mode)
        if table.name == "texts":
            raise Crash("texts/ landed")
        return written

    monkeypatch.setattr(indexstore, "write", crash_after_texts)
    with pytest.raises(Crash):
        fam.append(path, batch)
    after = ids()
    assert after == before
    assert after["texts"] == after["bands"] == after["sigs"] == after["terms"]
    # the batch's texts/ files are on disk; only the manifest leaves them out
    listed = indexstore.manifest(path)["tables"]["texts"]["files"]
    assert len(_on_disk(path, "texts")) > len(listed)


@pytest.mark.parametrize("family", ["minhash", "ivf", "lsh", "ivfpq", "pq"])
def test_manifest_describes_the_store(spark, tmp_path, family):
    """After build, append and compact, the manifest carries its format
    and the build parameters, and per table a row count equal to Spark's
    count and a file list equal to the parquet files on disk."""
    from pyspark_etl_twitter_spark.operators import indexstore

    fam = _families(spark)[family]
    first, _, batch = fam.data
    path = str(tmp_path / family)
    steps = [lambda: fam.build(first, path), lambda: fam.append(path, batch)]
    if "compact" in fam.maintain:
        steps.append(lambda: fam.maintain["compact"](path))
    for version, step in enumerate(steps):
        step()
        found = indexstore.manifest(path)
        assert (found["format"], found["version"]) == (indexstore.FORMAT, version)
        assert set(found["params"]) == fam.params
        for table, entry in found["tables"].items():
            assert sorted(entry["files"]) == _on_disk(path, table), table
            assert entry["rows"] == spark.read.parquet(f"{path}/{table}").count(), table
    if family == "minhash":  # meta/ keeps the NOT NULL schema it always had
        (meta,) = _on_disk(path, "meta")
        assert not any(f.nullable for f in pq.read_schema(f"{path}/{meta}"))
