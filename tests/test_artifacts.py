"""The artifact store (``gaming_ai_analytics_spark.artifacts``): cache
keys, staleness, concurrency and cleanup of derived artifacts."""

from __future__ import annotations

import concurrent.futures
import os
import subprocess
import sys
import time

from gaming_ai_analytics_spark import artifacts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _source(sf_dir, name="src"):
    """A one-file source table ``{sf_dir}/{name}.parquet``."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    with open(p, "w") as fh:
        fh.write("x")
    return p


def _counting_build(calls):
    def build():
        calls.append(1)
        return object()

    return build


def test_trailing_slash_is_the_same_key(spark, tmp_path):
    _source(tmp_path)
    calls = []
    build = _counting_build(calls)
    a = artifacts.once(spark, str(tmp_path), "v", build, sources=("src",))
    b = artifacts.once(spark, f"{tmp_path}/", "v", build, sources=("src",))
    assert a is b and len(calls) == 1
    assert artifacts.workdir(str(tmp_path), "w") == artifacts.workdir(
        f"{tmp_path}/", "w"
    )
    assert artifacts.token(str(tmp_path)) == artifacts.token(f"{tmp_path}/")


def test_touched_source_rebuilds(spark, tmp_path):
    p = _source(tmp_path)
    calls = []
    build = _counting_build(calls)
    a = artifacts.once(spark, str(tmp_path), "v", build, sources=("src",))
    assert artifacts.once(
        spark, str(tmp_path), "v", build, sources=("src",)
    ) is a
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    b = artifacts.once(spark, str(tmp_path), "v", build, sources=("src",))
    assert b is not a and len(calls) == 2


def test_rewritten_source_rebuild_reads_new_rows(spark, tmp_path):
    """A rebuild after the source is overwritten sees the new files,
    not the ``load_table`` frame cached before the overwrite."""
    from gaming_ai_analytics_spark.sources.star import load_table

    sf = str(tmp_path)
    path = os.path.join(sf, "src.parquet")
    spark.range(3).write.parquet(path)

    def build():
        return load_table(spark, sf, "src").count()

    assert artifacts.once(spark, sf, "n", build, sources=("src",)) == 3
    spark.range(5).write.mode("overwrite").parquet(path)
    assert artifacts.once(spark, f"{sf}/", "n", build, sources=("src",)) == 5


def test_missing_artifact_rebuilds(spark, tmp_path):
    calls = []
    build = _counting_build(calls)
    present = [True]
    a = artifacts.once(
        spark, str(tmp_path), "v", build, exists=lambda: present[0]
    )
    assert artifacts.once(
        spark, str(tmp_path), "v", build, exists=lambda: present[0]
    ) is a
    present[0] = False
    b = artifacts.once(
        spark, str(tmp_path), "v", build, exists=lambda: present[0]
    )
    assert b is not a and len(calls) == 2


def test_concurrent_once_builds_once(spark, tmp_path):
    calls = []
    def build():
        calls.append(1)
        time.sleep(0.2)
        return object()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with concurrent.futures.ThreadPoolExecutor(16) as ex:
            futs = [
                ex.submit(artifacts.once, spark, str(tmp_path), "v", build)
                for _ in range(16)
            ]
            got = [f.result(timeout=60) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert len(calls) == 1
    assert all(g is got[0] for g in got)


_CHILD = """
import os, sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as e
from gaming_ai_analytics_spark import artifacts
from gaming_ai_analytics_spark.session import get_spark

spark = get_spark("artifacts_child")
qs = e.queries()
for n in ("csv_roundtrip_scan", "jsonl_roundtrip_scan",
          "orc_roundtrip_scan", "binaryfile_ingest_scan"):
    assert qs[n](spark, {sf!r}).count() > 0, n
root = artifacts._root_dir()
print(root)
print(len(os.listdir(root)))
"""


def test_scratch_dirs_removed_at_exit(sf_dir):
    """A child interpreter that lands data through the per-call
    scratch dirs leaves none of them behind once it exits."""
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO, sf=sf_dir)],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    root, n = proc.stdout.strip().splitlines()[-2:]
    assert int(n) == 4  # one scratch dir per call, all under the root
    assert not os.path.exists(root)
