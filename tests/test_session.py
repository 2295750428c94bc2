"""Session factory: build_session under spark-submit keeps what spark-submit
set (master and conf keys) and fills in only the keys it left unset."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_build_session_keeps_spark_submit_master_and_conf(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        textwrap.dedent(
            """
            from mmgraphrag_spark.session import build_session

            s = build_session("probe", cpus=3)
            print(
                "PROBE",
                s.sparkContext.master,
                s.conf.get("spark.sql.shuffle.partitions"),
                s.conf.get("spark.sql.adaptive.enabled"),
            )
            s.stop()
            """
        )
    )
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = dict(os.environ, PYTHONPATH=REPO, PYSPARK_PYTHON=sys.executable)
    run = subprocess.run(
        [
            submit,
            "--master", "local[1]",
            "--conf", "spark.sql.shuffle.partitions=3",
            "--conf", "spark.ui.enabled=false",
            str(probe),
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    lines = [ln for ln in run.stdout.splitlines() if ln.startswith("PROBE")]
    # spark-submit's master and shuffle width win; AQE, which it left
    # unset, still comes from build_session
    assert lines == ["PROBE local[1] 3 true"]
