"""Session factory: what a caller outside the repository root gets."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A caller that only puts the package on the driver's sys.path; the
# native fit's mapInPandas then needs the package in the Python workers.
_OUTSIDE_FIT = textwrap.dedent(
    f"""
    import sys
    sys.path.insert(0, {REPO_ROOT!r})
    from collective_als_spark import CollectiveALS, get_spark

    spark = get_spark("outside_repo_root", shuffle_partitions=2)
    rows = [(u, i, float((u * 7 + i) % 5 + 1)) for u in range(12) for i in range(8)]
    df = spark.createDataFrame(rows, "user int, item int, rating double")
    model = CollectiveALS("user", "item", rank=2, max_iter=1, num_blocks=2,
                          force_native=True).fit(df)
    print("n_items", model.factors_for("item").count())
    spark.stop()
    """
)


def test_native_fit_runs_outside_repo_root(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    script = tmp_path / "outside_fit.py"
    script.write_text(_OUTSIDE_FIT)
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "n_items 8" in proc.stdout
