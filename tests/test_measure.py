"""``tools/measure.py``: the ×N copy rule without Spark, one measured row on
the shared session, and no round-numbered scripts under ``tools/``."""

import re
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tools.measure import measure_row, replicate_sf  # noqa: E402

from tests.conftest import SF_TINY  # noqa: E402


def _write_tiny_sf(root: Path) -> None:
    ts = pa.array([1_000_000_001, 2_000_000_002, 3_000_000_003], pa.timestamp("ns"))
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2, 3], pa.int64()),
                "o_custkey": pa.array([7, 7, 8], pa.int64()),
                "o_orderdate": ts,
            }
        ),
        root / "orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1, 1, 2, 3], pa.int64()),
                "l_linenumber": pa.array([1, 2, 1, 1], pa.int32()),
                "l_quantity": [1.0, 2.0, 3.0, 4.0],
            }
        ),
        root / "lineitem.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([0, 1], pa.int32()),
                "n_name": ["A", "B"],
                "n_regionkey": pa.array([0, 0], pa.int32()),
            }
        ),
        root / "nation.parquet",
    )


def test_replicate_multiplies_facts_and_keeps_joins(tmp_path):
    src, dst = tmp_path / "sf", tmp_path / "sfx3"
    src.mkdir()
    _write_tiny_sf(src)
    replicate_sf(str(src), str(dst), 3)

    orders = pq.read_table(dst / "orders.parquet")
    lineitem = pq.read_table(dst / "lineitem.parquet")
    nation = pq.read_table(dst / "nation.parquet")
    assert (orders.num_rows, lineitem.num_rows, nation.num_rows) == (9, 12, 2)
    assert nation.equals(pq.read_table(src / "nation.parquet"))

    okeys = orders.column("o_orderkey").to_pylist()
    assert len(set(okeys)) == len(okeys)
    lkeys = list(
        zip(lineitem.column("l_orderkey").to_pylist(), lineitem.column("l_linenumber").to_pylist())
    )
    assert len(set(lkeys)) == len(lkeys)
    assert {k for k, _ in lkeys} <= set(okeys)
    # non-key columns are copied as stored, nanosecond timestamps included
    assert lineitem.column("l_linenumber").to_pylist() == [1, 2, 1, 1] * 3
    assert orders.schema.field("o_orderdate").type == pa.timestamp("ns")
    assert orders.column("o_orderdate").cast(pa.int64()).to_pylist() == [
        1_000_000_001,
        2_000_000_002,
        3_000_000_003,
    ] * 3


def test_measure_row_reports_ledger_and_job_list(spark):
    rec = measure_row(spark, "pricing_summary", SF_TINY, warmup=0, reps=1)
    assert rec["reps"] == 1
    assert rec["jobs"] >= 1
    assert rec["action_s"] > 0
    assert len(rec["job_list"]) == rec["jobs"]


def test_no_round_numbered_tools():
    stale = [p.name for p in (ROOT / "tools").rglob("*") if re.search(r"_r\d+", p.name)]
    assert stale == []
