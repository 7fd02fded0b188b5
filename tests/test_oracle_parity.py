"""Run every registered query against its DuckDB oracle at sf0.001 —
the local twin of the driver's CORRECTNESS gate."""

import os
import subprocess
import sys

import pytest

from kafka_connect_msk_demo_spark.oracle import check_query
from kafka_connect_msk_demo_spark.queries import ALL_QUERIES


@pytest.mark.parametrize("name", sorted(ALL_QUERIES))
def test_query_matches_oracle(spark, sf_small, name):
    fn, sql = ALL_QUERIES[name]
    if not sql:
        pytest.skip("no oracle (rows-only check)")
    issues = check_query(spark, name, fn, sql, sf_small)
    assert not issues, f"{name}: " + "; ".join(issues)


def test_scratch_directories_go_when_their_process_exits(sf_small):
    """Registry queries and staged streams put their files under one
    scratch root per process. The root goes when that process exits,
    and a forked child, which inherits the exit hook, removes only its
    own."""
    code = "\n".join([
        "import os, sys",
        "from kafka_connect_msk_demo_spark.catalog import _stream_dir",
        "from kafka_connect_msk_demo_spark.queries import _scratch_dir",
        "mine = _scratch_dir('probe_')",
        f"print('stage', _stream_dir({sf_small!r}, 'events'), flush=True)",
        "if os.fork() == 0:",
        "    print('child', _scratch_dir('probe_'), flush=True)",
        "    sys.exit(0)",
        "os.wait()",
        "print('parent', mine, os.path.isdir(mine))"])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, "-c", code], cwd=root,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    out = dict(line.split(" ", 1) for line in r.stdout.splitlines())
    mine, alive = out["parent"].rsplit(" ", 1)
    assert alive == "True", "a forked child removed its parent's scratch"
    for d in (mine, out["child"], out["stage"]):
        assert not os.path.exists(os.path.dirname(d)), d
