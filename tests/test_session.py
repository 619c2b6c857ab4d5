"""``session.job_spark``, the session of the ``jobs/`` entry points, and
``session.get_spark`` under it: a plain-python run is sized by
``SPARK_GRAFT_CPUS`` and its Python workers import the engine from any
working directory; under ``spark-submit`` the submitted master and
``--conf`` values stand. Without ``SPARK_GRAFT_DRIVER_MEM`` the driver
memory comes from the host."""

import os
import subprocess
import sys

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import sys
sys.path.insert(0, {repo!r})
from searchengine_spark.session import {factory} as make_session
s = make_session("probe")
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
    script.write_text(PROBE.format(repo=REPO, factory="job_spark"))
    env = dict(os.environ, SPARK_GRAFT_CPUS="3", SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYTHONPATH", None)
    # plain python from outside the repo: host-sized local master, engine
    # confs applied, and the Python workers import searchengine_spark —
    # through job_spark, and through a script that calls get_spark itself
    # (jobs/scale_sample.py, jobs/scaling_probe.py, bench.py)
    got = _probe([sys.executable, str(script), "workers"], env, tmp_path)
    assert got == ["local[3]", "true", "UTC", "0"]
    direct = tmp_path / "probe_get_spark.py"
    direct.write_text(PROBE.format(repo=REPO, factory="get_spark"))
    got = _probe([sys.executable, str(direct), "workers"], env, tmp_path)
    assert got == ["local[3]", "true", "UTC", "0"]
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    got = _probe(
        [submit, "--master", "local[2]", "--conf", "spark.sql.adaptive.enabled=false", str(script)],
        env,
        tmp_path,
    )
    # spark-submit: its master and --conf win; unset engine confs still fill in
    assert got == ["local[2]", "false", "UTC", "-"]


def test_driver_memory_from_host(tmp_path):
    """Unset ``SPARK_GRAFT_DRIVER_MEM``: half the host's memory (the cgroup
    limit when lower than physical RAM), within [1g, 8g]; set: passed
    through as given."""
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from searchengine_spark.session import ENGINE_CONFS\n"
        "print('PROBE', ENGINE_CONFS['spark.driver.memory'])\n"
    )
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    got = _probe([sys.executable, "-c", code], env, tmp_path)
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for limit in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        if os.path.exists(limit):
            text = open(limit).read().strip()
            if text.isdigit():
                ram = min(ram, int(text))
    want_mb = min(8192, max(1024, ram // 2 // 2**20))
    assert got == [f"{want_mb}m"]
    env["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    assert _probe([sys.executable, "-c", code], env, tmp_path) == ["3g"]
