"""``session.job_spark``, the session of the ``jobs/`` entry points: a
plain-python run is sized by ``SPARK_GRAFT_CPUS`` and its Python workers
import the engine from any working directory; under ``spark-submit`` the
submitted master and ``--conf`` values stand."""

import os
import subprocess
import sys

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import sys
sys.path.insert(0, {repo!r})
from searchengine_spark.session import job_spark
s = job_spark("probe")
c = s.sparkContext.getConf()


def imports_engine(batches):
    import searchengine_spark  # in a Python worker, not the driver
    yield from batches


worker = "-"
if "workers" in sys.argv:
    worker = s.range(1).mapInArrow(imports_engine, "id long").collect()[0].id
print("PROBE", s.sparkContext.master, c.get("spark.sql.adaptive.enabled"),
      c.get("spark.sql.session.timeZone"), worker)
s.stop()
"""


def _probe(cmd: list[str], env: dict, cwd) -> list[str]:
    out = subprocess.run(
        cmd, env=env, cwd=cwd, capture_output=True, text=True, timeout=300
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE")]
    assert lines, out.stderr[-2000:]
    return lines[0].split()[1:]


def test_job_spark_local_sizing_and_submitted_confs(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(PROBE.format(repo=REPO))
    env = dict(os.environ, SPARK_GRAFT_CPUS="3", SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYTHONPATH", None)
    # plain python from outside the repo: host-sized local master, engine
    # confs applied, and the Python workers import searchengine_spark
    got = _probe([sys.executable, str(script), "workers"], env, tmp_path)
    assert got == ["local[3]", "true", "UTC", "0"]
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    got = _probe(
        [submit, "--master", "local[2]", "--conf", "spark.sql.adaptive.enabled=false", str(script)],
        env,
        tmp_path,
    )
    # spark-submit: its master and --conf win; unset engine confs still fill in
    assert got == ["local[2]", "false", "UTC", "-"]
