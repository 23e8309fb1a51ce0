"""Seeded-generator determinism: the same seed gives the same input digest,
another seed gives another.  Run with ``python3 -m pytest perfbench``."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_same_seed_same_digest(name):
    a = workloads.digest(workloads.to_table(workloads.rows_for(name, 7)))
    b = workloads.digest(workloads.to_table(workloads.rows_for(name, 7)))
    c = workloads.digest(workloads.to_table(workloads.rows_for(name, 8)))
    assert a == b
    assert a != c


def test_ops_corpus_seeded():
    a = workloads.digest(workloads.to_table(workloads.ops_corpus(7)))
    b = workloads.digest(workloads.to_table(workloads.ops_corpus(7)))
    c = workloads.digest(workloads.to_table(workloads.ops_corpus(8)))
    assert a == b
    assert a != c


def test_written_input_matches_digest(tmp_path):
    inp = workloads.write_input("extract_mix", 3, str(tmp_path))
    import pyarrow.parquet as pq
    back = pq.read_table(str(tmp_path))
    assert back.num_rows == inp["rows"]
    assert workloads.digest(back.select(inp["table"].column_names)) == \
        workloads.digest(inp["table"])
